package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.{ColumnBridge, SqAdcDist, SqEncode}

/** Scalar quantization (SQ8 — the `ScalarQuantizer` of Douze et al., "The
  * Faiss Library", 2024): compress each embedding to ONE BYTE PER
  * DIMENSION with an independent affine map per dimension, and answer
  * queries by asymmetric distance against the reconstructions. The middle
  * point of the compression spectrum this library now covers end to end:
  *
  *   - float corpus ([[Ann.bruteForceTopK]])        — 4 B/dim, exact
  *   - SQ8 codes (this object)                      — 1 B/dim, per-dim rounding
  *   - PQ codes ([[Pq]])                            — m B/VECTOR, subspace rounding
  *
  * SQ8 is the right operating point when PQ's subspace quantization costs
  * too much recall but the float corpus no longer fits executor memory —
  * at 100 TB of raw floats the code table is 25 TB, and unlike PQ no
  * codebook training round is needed: the model is 2·dim longs.
  *
  * Scale shape: training is ONE aggregate over the corpus (per-dimension
  * min/max — d-sized partials partial-aggregate map-side, a d-row collect
  * of driver state); encoding is a zero-shuffle projection; scoring
  * broadcasts the query side and the corpus never shuffles — the only
  * exchange is [[Ann.topKTail]]'s bounded-aggregate tail over (id, score)
  * rows. All three stages carry the scales as reference objects inside
  * native expressions ([[org.apache.spark.sql.graftglue.SqEncode]] /
  * [[org.apache.spark.sql.graftglue.SqAdcDist]]) — plan size constant in
  * dim, loops compiled, projections fused.
  *
  * Determinism: everything after [[Clustering.quantize]]'s floor step is
  * EXACT long arithmetic (clamp-then-divide keeps every division
  * non-negative, so truncation ≡ floor ≡ DuckDB `//`), which is why
  * q_sq_topk's oracle replays train → encode → reconstruct → distance
  * bit-for-bit in SQL. The default `scale` is 2^16, not the family's
  * 2^20: SQ's own byte rounding dwarfs the extra quantization error, and
  * the smaller scale buys overflow headroom for the squared-distance sum
  * (|x·2^16| ≤ 2^22 at |x| ≤ 64 leaves the d² fold far under 2^63 —
  * and the natives overflow LOUDLY past it, the GramSum posture).
  */
object Sq {

  /** Per-dimension affine scales: `lo` = corpus minimum, `width` = corpus
    * range, both in quantized units — plus the QUANTIZATION scale they
    * were trained at, carried IN the model so encode-time and probe-time
    * quantization can never drift from training (a mismatched scale would
    * not error: the clamp contract would silently saturate every code,
    * which is correct for out-of-range DATA but poison for an
    * out-of-sync CALLER). Model-sized driver state by construction
    * (2·dim longs + one double — smaller than one embedding row).
    */
  final case class Scales(lo: Array[Long], width: Array[Long],
                          scale: Double = 65536.0) {
    require(lo.length == width.length, "scales arrays must align")
    require(scale > 0.0 && scale.isFinite, s"quantization scale $scale")
    def dim: Int = lo.length
  }

  /** Learn `Scales` from a corpus: one min/max aggregate over the
    * per-dimension explode — d groups, map-side partials, a d-row collect.
    * `dim` is passed, not probed (the [[Ann]] lesson — no `.head()` at
    * plan time), and validated against what the aggregate actually saw.
    */
  def trainScales(df: DataFrame, vecCol: String, dim: Int,
                  scale: Double = 65536.0): Scales = {
    val rows = df
      .select(posexplode(Clustering.quantize(col(vecCol), scale)).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min("v").as("lo"), max("v").as("hi"))
      .collect()
    require(rows.length == dim,
      s"trainScales: corpus has ${rows.length} dimensions, expected $dim")
    val byPos = rows.map(r => (r.getInt(0),
      (r.getDouble(1).toLong, r.getDouble(2).toLong))).sortBy(_._1)
    Scales(byPos.map(_._2._1), byPos.map { case (_, (l, h)) => h - l }, scale)
  }

  private def encodeCol(vec: Column, s: Scales): Column =
    ColumnBridge.column(SqEncode(
      ColumnBridge.expression(Clustering.quantize(vec, s.scale)), s.lo, s.width))

  /** Encode a corpus to (id, carry…, codes) — a zero-shuffle projection;
    * codes are `array<int>` in [0, 255] (byte-range by the clamp
    * contract, int-typed for oracle-friendly arithmetic). Out-of-range
    * vectors under FROZEN scales (a delta encode) clamp to the range
    * edge — the standard SQ saturation, not an error.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String, s: Scales,
             carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).as("id") +: carry.map(col) :+
      encodeCol(col(vecCol), s).as("codes"): _*)

  /** Asymmetric-distance top-k over SQ8 codes: the query keeps full
    * (quantized) precision, the corpus contributes reconstructions —
    * output (query_id, rank, neighbor_id, sq2) with sq2 the exact-long
    * squared L2 in quantized units, ranks tie-broken by neighbor id
    * (the [[Ann.bruteForceTopK]] conventions, self-pairs excluded).
    */
  def sqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, s: Scales, topK: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      Clustering.quantize(col(vecCol), s.scale).as("__qv"))
    val codes = encode(corpus, idCol, vecCol, s)
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        ColumnBridge.column(SqAdcDist(
          ColumnBridge.expression(col("__qv")),
          ColumnBridge.expression(col("codes")), s.lo, s.width)).as("sq2"))
    Ann.topKTail(scored, topK, scoreCol = "sq2", ascending = true)
  }

  /** IVF-routed SQ8 — the FAISS "IVF-SQ" composition, mirroring
    * [[Pq.ivfAdcTopK]]: [[sqTopK]] alone scans every code per query (the
    * right form factor when the byte corpus is RAM-resident); at corpus
    * scale route through `nlist` coarse cells and score only the `nprobe`
    * cells nearest each query — the scanned fraction drops to
    * ~nprobe/nlist of an ALREADY 4×-compressed scan.
    *
    * Plan shape: cell assignment rides the same zero-shuffle projection
    * scan that encodes the corpus; the probed query side (queries ×
    * nprobe rows carrying the quantized query vector) broadcasts into one
    * hash join on the cell id — corpus never shuffles, no cartesian; the
    * only exchange is [[Ann.topKTail]]'s. With `nprobe == nlist` the
    * result is EXACTLY [[sqTopK]] (same scores, same tie-break — the
    * q_sq_ivf oracle identity); recall < 1 below that, the standard IVF
    * trade.
    */
  def ivfSqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, s: Scales, topK: Int,
                nlist: Int = 64, nprobe: Int = 8,
                trained: Boolean = true): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe ($nprobe) must be in [1, nlist=$nlist]")
    val cents = Ann.centroidsFor(corpus, idCol, vecCol, nlist, trained)
    val celled = corpus.select(col(idCol), col(vecCol),
      Ann.nearestCell(cents, col(vecCol)).as("__cell"))
    val codes = encode(celled, idCol, vecCol, s, carry = Seq("__cell"))
    val probed = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__v"),
        Clustering.quantize(col(vecCol), s.scale).as("__qv"))
      .withColumn("__cell", Ann.probeCells(cents, col("__v"), nprobe))
      .select("query_id", "__qv", "__cell")
    val scored = codes.join(broadcast(probed), Seq("__cell"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        ColumnBridge.column(SqAdcDist(
          ColumnBridge.expression(col("__qv")),
          ColumnBridge.expression(col("codes")), s.lo, s.width)).as("sq2"))
    Ann.topKTail(scored, topK, scoreCol = "sq2", ascending = true)
  }

  // -------------------------------------------------------------------
  // Persistent IVF-SQ index: the fourth stored-index family (LSH band
  // keys [[graft.dedup.Dedup.indexDelta]], winnow prints, IVFPQ codes
  // [[Pq.writeIndex]] — now byte codes), same build / probe / delta
  // economics, same frozen-model contract.
  // -------------------------------------------------------------------

  /** Write a persistent IVF-SQ index under `dir`, one generation of a
    * pointer dir ([[Pq.writeIndex]]'s layout: one `dir/gen-N/`, one
    * `_CURRENT` flip):
    *
    *   - `scales` — (pos, lo, width, qscale): the affine model, dim rows
    *     (config-table-sized by construction)
    *   - `coarse` — (cent_id, cent_vec): the nlist coarse cells
    *   - `codes`  — (id, codes) parquet PARTITIONED BY `cell`
    *
    * The cell partitioning turns a probe's routing into directory-level
    * partition pruning exactly as [[Pq.writeIndex]]'s does; the model is
    * FROZEN at build time (codes are meaningless under retrained scales
    * — the [[Pq]] contract), so daily generations maintain via
    * [[indexCodesDelta]] and only a deliberate re-train rewrites the
    * index. No training rounds exist to re-run: rebuilding the model is
    * one min/max aggregate, which makes IVF-SQ the cheapest index of
    * the four families to stand up.
    *
    * `trained = true` (k-means coarse quantizer, [[Ann.trainedCentroids]])
    * is the DEFAULT (r12): on real (clustered) embedding distributions
    * the md5-order document pick leaves hot cells that defeat partition
    * pruning — measured in plans/ANN.md r11, and a default IS the
    * product at 100× scale. `trained = false` remains for zero-training
    * builds and oracle-replayable cell ids; probes and deltas read
    * whichever centroids the model stores, so the flag is build-time
    * only.
    */
  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 dim: Int, dir: String, nlist: Int = 64,
                 scale: Double = 65536.0,
                 trained: Boolean = true): Unit = {
    val spark = corpus.sparkSession
    val s = trainScales(corpus, vecCol, dim, scale)
    val cents = Ann.centroidsFor(corpus, idCol, vecCol, nlist, trained)
    val celled = corpus.select(col(idCol), col(vecCol),
      Ann.nearestCell(cents, col(vecCol)).as("cell"))
    import spark.implicits._
    graft.operators.Sinks.swapGeneration(spark, dir) { gen =>
      s.lo.indices.map(i => (i, s.lo(i), s.width(i), s.scale)).toDF(
          "pos", "lo", "width", "qscale")
        .coalesce(1).write.parquet(s"$gen/scales")
      Ann.writeCoarse(spark, cents, gen)
      encode(celled, idCol, vecCol, s, carry = Seq("cell"))
        .write.partitionBy("cell").parquet(s"$gen/codes")
    }
  }

  /** The live generation of index `dir` and its frozen model (dim + nlist
    * rows — bounded collects by the build contract).
    */
  private def readModel(spark: org.apache.spark.sql.SparkSession,
                        dir: String): (String, Seq[(String, Seq[Float])], Scales) = {
    val gen = Ann.liveGeneration(spark, dir)
    val srows = spark.read.parquet(s"$gen/scales").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    (gen, Ann.readCoarse(spark, gen),
      Scales(srows.map(_._2), srows.map(_._3), srows.head._4))
  }

  /** Probe the stored index: route each query to its `nprobe` nearest
    * cells under the STORED centroids, scan only those cells' code
    * partitions (the probed-cell union is ≤ nlist values — collected and
    * pushed as a partition filter, pruning at file-listing time), and
    * score with the STORED scales. `nprobe == nlist` reproduces
    * [[sqTopK]] over the indexed corpus exactly (the q_sq_index_probe
    * oracle identity).
    */
  def probeIndex(queries: DataFrame, idCol: String, vecCol: String,
                 dir: String, topK: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val (gen, cents, s) = readModel(spark, dir)
    require(nprobe >= 1 && nprobe <= cents.size,
      s"nprobe ($nprobe) must be in [1, nlist=${cents.size}]")
    val probed = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__v"),
        Clustering.quantize(col(vecCol), s.scale).as("__qv"))
      .withColumn("cell", Ann.probeCells(cents, col("__v"), nprobe))
      .select("query_id", "__qv", "cell")
    val scored = Ann.probedPartitions(s"$gen/codes", probed).join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        ColumnBridge.column(SqAdcDist(
          ColumnBridge.expression(col("__qv")),
          ColumnBridge.expression(col("codes")), s.lo, s.width)).as("sq2"))
    Ann.topKTail(scored, topK, scoreCol = "sq2", ascending = true)
  }

  /** Index maintenance under the frozen model: retire `retiredIds`,
    * encode `admitted` with the STORED scales/cells (out-of-range values
    * SATURATE — the documented frozen-scale delta contract), return the
    * maintained (id, cell, codes) set — row-identical to re-encoding the
    * maintained membership from scratch under the same model, the
    * identity q_sq_index_delta's oracle checks. The model and the stored
    * codes come from ONE live generation. Retire + admit in one call
    * replaces a changed vector (the Dedup.indexDelta contract); the caller
    * writes the result back with `Sinks.swapWrite(result, s"$dir/codes",
    * Seq("cell"))`, one new generation carrying the frozen model
    * ([[Pq.indexCodesDelta]]).
    */
  def indexCodesDelta(admitted: DataFrame, idCol: String, vecCol: String,
                      dir: String, retiredIds: DataFrame): DataFrame = {
    val spark = admitted.sparkSession
    val (gen, cents, s) = readModel(spark, dir)
    val kept = Ann.keptRows(s"$gen/codes", retiredIds, admitted, idCol).select("id", "cell", "codes")
    val celled = admitted.select(col(idCol), col(vecCol),
      Ann.nearestCell(cents, col(vecCol)).as("cell"))
    // retire applies to STORED rows only — retire + admit = single-call
    // replace (the Dedup.indexDelta contract; see Pq.indexCodesDelta)
    val fresh = encode(celled, idCol, vecCol, s, carry = Seq("cell"))
      .select("id", "cell", "codes")
    kept.unionByName(fresh)
  }
}
