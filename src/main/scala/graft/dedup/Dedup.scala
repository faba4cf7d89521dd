package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Text, Vectors}
import graft.Checkpoints.PinSyntax
import graft.Caching.TrackedSyntax

/** Deduplication for LLM-training-data pipelines (SURVEY §2.G1–G5).
  *
  * Scale posture (100 TB):
  *  - exact dedup is a hash group-by — map-side partial aggregation, one
  *    shuffle on the content hash, no skew (md5 is uniform).
  *  - n-gram Jaccard prunes high-document-frequency shingles ("stop
  *    shingles") before the self-join, bounding the quadratic pair blowup;
  *    candidate pairs then get an exact Jaccard verification.
  *  - MinHash/LSH is the sub-quadratic path: O(n·bands) shuffle keys.
  */
object Dedup {

  /** The shared retired-ids contract for every index-maintenance operator
    * ([[indexDelta]], [[winnowIndexDelta]],
    * [[graft.similarity.Pq.indexCodesDelta]]): accept either a bare id
    * frame or full snapshotDiff rows — the `id` column wins by name; a
    * multi-column frame WITHOUT one is refused rather than guessed at
    * (anti-joining on whatever column happens to be first would silently
    * retire nothing).
    */
  private[graft] def retiredIdFrame(retiredIds: DataFrame): DataFrame = {
    require(retiredIds.columns.contains("id") || retiredIds.columns.length == 1,
      s"retiredIds must have an 'id' column or be single-column, got: " +
        retiredIds.columns.mkString(", "))
    val idName =
      if (retiredIds.columns.contains("id")) "id" else retiredIds.columns.head
    retiredIds.select(col(idName).as("id"))
  }

  /** The kept-side anti-join key set of an index delta (r13): retired ids
    * ∪ admitted ids. Admitted ids ALWAYS replace any stored copy — the
    * explicit retire stays the snapshotDiff contract, but without the
    * union a maintenance loop REPLAYING its uncommitted micro-batch after
    * a crash whose swap already landed (checkpoint commits after the
    * foreachBatch body) would duplicate every admitted row. With it, the
    * delta apply is IDEMPOTENT — apply(apply(index, d), d) = apply(index,
    * d) — which is what makes the online maintain loops crash-convergent
    * (PointerSwapSpec). On a first apply admitted ids are absent from
    * the stored side, so the union changes nothing; duplicates in the
    * union are harmless to an anti-join (existence, not counts) and it
    * stays delta-sized — no distinct, no extra exchange.
    */
  private[graft] def replaceIdFrame(retiredIds: DataFrame, admitted: DataFrame,
                                    idCol: String): DataFrame =
    retiredIdFrame(retiredIds)
      .unionByName(admitted.select(col(idCol).as("id")))

  /** Exact dedup (G1): group by md5(content), keep the minimum id.
    * Output: (hash, keep_id, n_copies).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup keeping the BEST copy per group instead of the min id —
    * the policy real curation runs (keep the longest / highest-quality
    * variant of a duplicated document). `max(struct(score, id))` picks
    * the lexicographic maximum, so ties on score break by id and the
    * winner is deterministic under any partitioning; still one partial-agg
    * shuffle, no window sort. `keyCol` is the duplicate-grouping key
    * (e.g. a normalized-text hash).
    */
  def exactKeepBest(df: DataFrame, idCol: String, keyCol: String,
                    scoreCol: String): DataFrame =
    df.groupBy(col(keyCol).as("key"))
      .agg(max(struct(col(scoreCol).as("s"), col(idCol).as("i"))).as("__best"),
        count(lit(1)).as("n_copies"))
      .select(col("key"), col("__best.i").as("keep_id"),
        col("__best.s").as("keep_score"), col("n_copies"))

  /** Expand each bucket's sorted member list into its strictly-upper-
    * triangular pairs: one output row per (i < j) position, payload built
    * by `mk(x, y)` as column `p`. Every banded/blocked dedup path expands
    * pairs through this ONE helper, via the lazy `graftglue.UpperTriPairs`
    * generator: the previous `explode(flatten(transform(transform)))` form
    * materialized a bucket's full m·(m−1)/2 pair array in one row buffer
    * (≈8.4M structs at the default maxBucket) and paid interpreted
    * per-pair lambda dispatch; the generator streams pairs one at a time
    * and `mk` runs as a codegen'd projection over its output.
    */
  private def bucketPairs(buckets: DataFrame, ms: Column,
                          mk: (Column, Column) => Column): DataFrame = {
    import org.apache.spark.sql.graftglue.{ColumnBridge, UpperTriPairs}
    buckets.select(ColumnBridge.column(UpperTriPairs(ColumnBridge.expression(ms))))
      .select(mk(col("__px"), col("__py")).as("p"))
  }

  /** Size-guarded bucket collection for the LSH-family pair expanders:
    * group `rows` by `keys`, DROP buckets larger than `maxBucket`, and
    * collect surviving members with `membersAgg`.
    *
    * Two properties the naive collect-then-filter shape lacks:
    *  1. The size check runs BEFORE any member array exists — bucket sizes
    *    come from a window `count` over the bucket key (spillable row
    *    buffer), so a degenerate 10⁶-member bucket never builds a
    *    collect_list aggregation buffer, let alone its ~5·10¹¹ pairs.
    *    The follow-up groupBy reuses the window's hash partitioning, so
    *    the guard costs no extra exchange.
    *  2. The cap is NOT silent: dropped-bucket / dropped-row counts and the
    *    largest observed bucket ride the main job as an observed metric
    *    (`df.queryExecution.observedMetrics(metricName)` after any action;
    *    columns `dropped_buckets`, `dropped_rows`, `max_bucket`), so a
    *    user sees exactly what the guard discarded. (`dropped_buckets`
    *    sums 1/n per over-cap row — exactly 1 per bucket, rounded.)
    *
    * AQE caveat (measured, Spark 4.1): if the guard empties the ENTIRE
    * result, AQE's empty-relation propagation replaces the finished
    * metric-carrying stage in the final plan and the observed metric is
    * absent. A zero-row result from a pair expander is itself the loud
    * signal; when auditing that case, disable
    * `spark.sql.adaptive.enabled` (or exclude AQEPropagateEmptyRelation)
    * and the metric reports exactly. Partial drops — the production case —
    * always surface.
    */
  private def guardedBuckets(rows: DataFrame, keys: Seq[String],
                             membersAgg: Column, maxBucket: Int,
                             metricName: String): DataFrame = {
    require(maxBucket > 1, s"maxBucket must exceed 1, got $maxBucket")
    val w = Window.partitionBy(keys.map(col): _*)
    val withN = rows.withColumn("__n", count(lit(1)).over(w))
    val observed = withN.observe(metricName,
      round(sum(when(col("__n") > maxBucket, lit(1.0) / col("__n"))
        .otherwise(lit(0.0)))).cast(LongType).as("dropped_buckets"),
      sum(when(col("__n") > maxBucket, 1L).otherwise(0L)).as("dropped_rows"),
      coalesce(max(col("__n")), lit(0L)).as("max_bucket"))
    observed.filter(col("__n") > 1 && col("__n") <= maxBucket)
      .groupBy(keys.map(col): _*)
      .agg(membersAgg)
  }

  /** Distinct word-k-shingles per document with the document's shingle-set
    * size carried alongside: (id, sz, shingle). Distinctness is enforced
    * per-document with `array_distinct`, and `sz` is computed in the SAME
    * projection — so downstream consumers never need a per-doc size join
    * (which would re-evaluate this whole pipeline: HOF lambda variables
    * don't canonicalize, so Spark cannot reuse the exchange of a duplicated
    * shingle subplan).
    */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // Tokenize into a materialized column FIRST (an expression referenced
    // inside a lambda would re-run split+filter per position), then shingle
    // with the native codegen expression — one fused loop per document
    // instead of an interpreted transform/slice/array_join lambda chain
    // (WordShingles yields the empty array below k tokens).
    val base = df.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__tk"))
    base
      .select(col("id"), array_distinct(Text.shinglesOf(col("__tk"), k)).as("__sh"))
      .select(col("id"), size(col("__sh")).as("sz"), explode(col("__sh")).as("shingle"))
  }

  /** Distinct word-k-shingles per document: (id, shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    shingleRows(df, idCol, textCol, k).select("id", "shingle")

  /** N-gram Jaccard near-dup (G2): exact Jaccard over word-k-shingle sets,
    * pairs with similarity ≥ `tau`, `id_a < id_b`.
    *
    * `maxShingleDf` drops shingles appearing in more than that many docs
    * before pairing (scale guard — "stop shingles"). Set sizes are computed
    * over the SAME pruned shingle universe as the intersections, so the
    * Jaccard stays internally consistent (numerator and denominator both
    * over pruned sets). Pass Int.MaxValue for exact behavior.
    *
    * Single-scan, zero-join shape: the per-doc set size rides WITH each
    * exploded (id, shingle) row (exact case: computed in the shingle
    * projection; pruned case: re-counted once after pruning), so bucket
    * members are (id, sz) pairs and the final Jaccard is a pure projection
    * over the pair counts — documents is scanned once, and there are no
    * size-lookup joins to re-evaluate the pipeline (HOF lambdas defeat
    * exchange reuse, so a shared subplan WOULD re-execute).
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, tau: Double = 0.8,
                   maxShingleDf: Int = Int.MaxValue): DataFrame = {
    // With stop-shingle pruning, sizes must be re-derived over the PRUNED
    // universe (so numerator and denominator agree). Document frequencies
    // come from a constant-memory count — NEVER collect_list of posting
    // lists: the hottest shingles (the very ones pruning exists to drop)
    // would materialize their whole id list in one aggregation buffer.
    // The shingle frame persists so the df-count and the join read one
    // corpus scan (HOF lambdas defeat exchange reuse).
    val sized =
      if (maxShingleDf == Int.MaxValue) shingleRows(df, idCol, textCol, k)
      else {
        val sh = shingleRows(df, idCol, textCol, k)
          .trackedPersist()
        val lowDf = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxShingleDf).select("shingle")
        sh.join(lowDf, "shingle") // co-partitioned on shingle with the agg
          .groupBy("id")
          .agg(count(lit(1)).as("sz"), collect_list(col("shingle")).as("shs"))
          .select(col("id"), col("sz"), explode(col("shs")).as("shingle"))
      }
    // Pair generation via shingle buckets, not a self-join: a self-join
    // evaluates the whole tokenize→shingle→explode pipeline twice and
    // shuffles it twice; grouping once and expanding each bucket's sorted
    // (id, sz) list emits the same (id_a < id_b) pairs from a single pass.
    val buckets = sized.groupBy("shingle")
      .agg(sort_array(collect_list(struct(col("id"), col("sz")))).as("ms"))
      .filter(size(col("ms")) > 1 && size(col("ms")) <= maxShingleDf)
    bucketPairs(buckets, col("ms"), (x, y) =>
        struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
          x.getField("sz").as("sz_a"), y.getField("sz").as("sz_b")))
      .select(col("p.id_a"), col("p.id_b"), col("p.sz_a"), col("p.sz_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b").agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("n_inter")).cast(DoubleType))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "n_inter", "jaccard")
  }

  /** Fuzzy short-string near-dup via blocked edit distance: candidate pairs
    * share a block key (the first `blockTokens` tokens), verified with
    * exact `levenshtein` ≤ `maxDist`. The short-string (titles, names,
    * product labels) companion to the shingle/minhash family — edit
    * distance is O(len²) per pair, so ALL pair generation happens inside
    * blocks, never corpus². `maxBlock` drops degenerate blocks (the
    * [[lshPairs]] guard); recall < 1 by construction — pairs split across
    * blocks are unseen, like any blocking scheme.
    *
    * Output: (id_a, id_b, dist), id_a < id_b.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, blockTokens: Int = 2,
                        maxBlock: Int = 64): DataFrame = {
    val b = df.select(col(idCol).as("id"), col(textCol).as("txt"),
      array_join(slice(Text.tokens(col(textCol)), 1, blockTokens), " ").as("blk"))
    val buckets = b.groupBy("blk")
      .agg(sort_array(collect_list(struct(col("id"), col("txt")))).as("ms"))
      .filter(size(col("ms")) > 1 && size(col("ms")) <= maxBlock)
    bucketPairs(buckets, col("ms"), (x, y) =>
        struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
          x.getField("txt").as("ta"), y.getField("txt").as("tb")))
      // strict <: duplicate ids in one block would otherwise emit an
      // id_a == id_b self-pair (the sorted list only guarantees <=)
      .filter(col("p.id_a") < col("p.id_b"))
      .select(col("p.id_a"), col("p.id_b"),
        levenshtein(col("p.ta"), col("p.tb")).cast(LongType).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Fuzzy key JOIN across two sources (record linkage): left and right
    * rows pair when their keys agree on the first `blockTokens` tokens
    * (the blocking equi-join — a normal shuffle/broadcast join, never a
    * cartesian) and their full keys are within `maxDist` edits (exact
    * `levenshtein` verify in the join filter). The cross-TABLE form of
    * [[editDistancePairs]] — matching "Acme Widget Deluxe" in one vendor
    * feed to "Acme Widget Delux" in another.
    *
    * `maxBlockPairs` (r16): blocks whose PAIR PRODUCT (left count ×
    * right count) exceeds the cap are DROPPED — the cross-table twin of
    * [[editDistancePairs]]' per-side guard, which this form was
    * missing. The r16 sf1 soak caught the cliff the gap leaves open:
    * block keys are low-cardinality prefixes whose density grows
    * linearly with the corpus, so the blocked join's pair count grows
    * QUADRATICALLY with SF (at 10× sf0.1 the q_fuzzy_join fixture paid
    * ~2.5e8 levenshtein pairs and a ~100 GB oracle join before the
    * guard — plans/BENCHNOTES.md r16). The product is the right
    * quantity for a two-sided join: it bounds the WORK a block can
    * cost, where a per-side cap would reject a 10⁶×1 block that costs
    * almost nothing. The guard is two block-count aggregates (map-side
    * combined; output = distinct blocks, tiny) and an equi-join against
    * the admitted block list; `maxBlockPairs <= 0` disables for exact
    * legacy semantics. Recall < 1 by construction, like every blocking
    * scheme — a dropped block is the "refine your blocking key" signal,
    * not silent quadratic output.
    *
    * Output: all left columns + all right columns + `dist`. Column names
    * must be disjoint (rename upstream — a silent duplicate would make
    * downstream references ambiguous). Recall bound is the same as all
    * blocking: pairs that differ inside the first `blockTokens` tokens are
    * not candidates.
    */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
                leftKey: String, rightKey: String,
                maxDist: Int, blockTokens: Int = 2,
                maxBlockPairs: Long = 1L << 20): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty, s"column names must be disjoint; shared: $overlap")
    val lb = left.withColumn("__blk",
      array_join(slice(Text.tokens(col(leftKey)), 1, blockTokens), " "))
    val rb = right.withColumn("__blk",
      array_join(slice(Text.tokens(col(rightKey)), 1, blockTokens), " "))
    val joined =
      if (maxBlockPairs <= 0) lb.join(rb, "__blk")
      else {
        // overflow-safe pair-product cap (r16 ADVICE): `__lc * __rc` is a
        // Long multiply that can wrap negative for pathologically dense
        // blocks — exactly the regime the guard exists for — admitting a
        // block whose true product exceeds the cap. Integer division
        // avoids the product: rc <= floor(cap / lc) ⟺ lc·rc <= cap for
        // positive counts (lc >= 1 by groupBy-count construction).
        val ok = lb.groupBy("__blk").agg(count(lit(1)).as("__lc"))
          .join(rb.groupBy("__blk").agg(count(lit(1)).as("__rc")), "__blk")
          .filter(col("__rc") <= expr(s"${maxBlockPairs}L div __lc"))
          .select("__blk")
        lb.join(ok, "__blk").join(rb, "__blk")
      }
    joined
      .withColumn("dist", levenshtein(col(leftKey), col(rightKey)).cast(LongType))
      .filter(col("dist") <= maxDist)
      .drop("__blk")
  }

  /** Prefix-filtered exact Jaccard (the AllPairs/PPJoin family): for
    * J(A,B) ≥ tau, A and B must share a shingle within their
    * (|X| − ⌈tau·|X|⌉ + 1)-prefixes under a GLOBAL shingle order — rarest
    * (lowest document frequency) first. Candidates therefore come only from
    * rare-shingle buckets, and each candidate pair verifies by exact set
    * intersection — the filter is LOSSLESS, so results equal
    * [[ngramJaccard]] at the same tau (they share an oracle).
    *
    * This is the high-tau scale path: at tau=0.8 prefixes are ~20% of each
    * set and bucket fan-out concentrates in shingles that by construction
    * appear in few documents; [[ngramJaccard]]'s full bucket expansion stays
    * preferable for low tau, where prefixes approach whole sets and the
    * per-pair verify join costs more than direct pair counting.
    *
    * The exploded shingle frame is persisted: document frequencies, ranked
    * prefixes, and full verification sets all derive from it, and HOF
    * lambdas don't canonicalize, so without the persist each derivation
    * would re-run tokenize+shingle over the corpus.
    */
  def ngramJaccardPrefix(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, tau: Double = 0.8): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, k)
      .trackedPersist()
    val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val ranked = sh.join(dfs, "shingle")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("id").orderBy(col("__df"), col("shingle"))))
    val prefix = ranked.filter(col("__rn") <= col("sz") - ceil(col("sz") * tau) + 1)
    val cand = bucketPairs(
      prefix.groupBy("shingle")
        .agg(sort_array(collect_list(col("id"))).as("ids"))
        .filter(size(col("ids")) > 1),
      col("ids"), (x, y) => struct(x.as("id_a"), y.as("id_b")))
      .select(col("p.id_a"), col("p.id_b")).distinct()
      // candidate pairs are few by design and referenced twice (id filter +
      // verify join) — persist so the prefix pipeline runs once
      .trackedPersist()
    // verification sets ONLY for documents that appear in some candidate
    // pair — at high tau that is a vanishing fraction of the corpus, and
    // collecting whole-corpus shingle arrays would dwarf the filter's win
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val sets = sh.join(candIds, "id").groupBy("id")
      .agg(sort_array(collect_list(col("shingle"))).as("shs"), first(col("sz")).as("sz"))
    val a = sets.select(col("id").as("id_a"), col("shs").as("__sa"), col("sz").as("sz_a"))
    val b = sets.select(col("id").as("id_b"), col("shs").as("__sb"), col("sz").as("sz_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("n_inter", size(array_intersect(col("__sa"), col("__sb"))).cast(LongType))
      .withColumn("jaccard",
        col("n_inter").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("n_inter")).cast(DoubleType))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "n_inter", "jaccard")
  }

  /** MinHash signature (G3): for each seed s, min over the document's
    * distinct tokens of md5(s || ":" || token). The min is taken on the hex
    * string — portable to any engine with md5 (same result in DuckDB),
    * unlike engine-native integer hashes.
    *
    * PRECONDITION: ids are unique. The signature is a per-ROW projection —
    * a frame with repeated ids emits one signature row per input row (the
    * r1-r3 groupBy(id) shape silently merged such rows' tokens into one
    * signature; the projection does not). Dedup ids upstream if the input
    * can carry repeats. Same contract applies to [[simhash]].
    *
    * Output: (id, sig: array<string> of length `numHashes`).
    */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 16): DataFrame = {
    // Native fused expression (graftglue.MinHashSig): all k seed-mins in
    // one pass over each document's token array — a pure PROJECTION. The
    // r1-r3 relational shape (explode + groupBy(id) with k min() aggs)
    // computed the same values but paid the corpus's only minhash shuffle
    // for an aggregation with no cross-row dependency; at 100 TB the
    // exchange, not the md5 work, was the bill. Values are bit-identical
    // (same md5(seed:token) hex mins — q_minhash/q_lsh_pairs oracles are
    // unchanged); zero-token documents still yield no row.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftglue.{ColumnBridge, MinHashSig}
    val sig = ColumnBridge.column(MinHashSig(
      ColumnBridge.expression(Text.tokens(col(textCol))), Literal(numHashes)))
    df.select(col(idCol).as("id"), sig.as("sig")).filter(col("sig").isNotNull)
  }

  /** Band-key projection shared by [[lshPairs]] and the streaming twin
    * ([[graft.streaming.Streams.lshBucketsStream]]): explode each
    * signature row to (id, band, band_key), band_key = md5 of the band's
    * signature slice. A pure projection — works identically on batch and
    * streaming frames, so both paths hash into the SAME buckets.
    */
  private[graft] def bandedKeys(sig: DataFrame, bands: Int,
                                rowsPerBand: Int): DataFrame = {
    val keys = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))
          .as("band_key"))
    }: _*)
    sig.select(col("id"), explode(keys).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** LSH banding over minhash signatures: hash each band of the signature to
    * a bucket key, join on equal (band, key) → candidate pairs. O(n·bands)
    * shuffle, never an n² compare.
    *
    * `maxBucket` drops degenerate mega-buckets BEFORE their member lists
    * materialize (run exact dedup first; a surviving bucket of m identical
    * docs costs m²/2 pairs — at the old 1<<20 default a 10⁶ bucket "passing"
    * the guard meant ~5·10¹¹ pairs). Dropped buckets are counted, not
    * silent: see [[guardedBuckets]] — metric name `metricName` (default
    * "lsh_bucket_guard"; override when composing this op twice in one query,
    * observed-metric names must be unique per query).
    */
  def lshPairs(sig: DataFrame, bands: Int, rowsPerBand: Int,
               maxBucket: Int = 1 << 12,
               metricName: String = "lsh_bucket_guard"): DataFrame = {
    val banded = bandedKeys(sig, bands, rowsPerBand)
    // Group each bucket once and emit its id pairs directly — a self-join on
    // (band, key) would re-evaluate the whole signature pipeline for both
    // sides and shuffle twice.
    val buckets = guardedBuckets(banded, Seq("band", "band_key"),
      sort_array(collect_set(col("id"))).as("ids"), maxBucket, metricName)
    bucketPairs(buckets, col("ids"), (x, y) =>
        struct(x.as("id_a"), y.as("id_b")))
      .select(col("p.id_a"), col("p.id_b")).distinct()
  }

  /** The near-dup KEEP-CANONICAL flagship as one operator: zero-shuffle
    * minhash signatures → guarded LSH banding ([[lshPairs]]) → pointer-jumped
    * connected components ([[dupClusters]]) → keep each cluster's canonical
    * (min-id) row, non-members pass through. This is the composition behind
    * q_neardup_pipeline and ConfigPipeline's `dedup_near` stage — one
    * definition so the tie-break and join semantics cannot drift between
    * them.
    *
    * The cluster join carries NO broadcast hint: near-dup membership can be
    * corpus-scale in a crawl (AQE broadcasts when it measures small). On
    * dup-heavy corpora run [[exact]] first (plans/SCALE.md: the composition
    * returns the collapsed-corpus answer 2.4x faster at 10x replication).
    * `metricName` must be unique per query when composed more than once —
    * see [[lshPairs]].
    */
  def keepCanonical(df: DataFrame, idCol: String, textCol: String,
                    numHashes: Int = 16, bands: Int = 4, rowsPerBand: Int = 4,
                    maxBucket: Int = 1 << 12,
                    metricName: String = "lsh_bucket_guard"): DataFrame = {
    val sig = minhashSignature(df, idCol, textCol, numHashes)
    val pairs = lshPairs(sig, bands, rowsPerBand, maxBucket, metricName)
    val clusters = dupClusters(pairs).withColumnRenamed("member", idCol)
    df.join(clusters, Seq(idCol), "left")
      .filter(col("canonical").isNull || col("canonical") === col(idCol))
      .drop("canonical")
  }

  /** The LSH INDEX of a corpus — (id, band, band_key) rows, the same
    * zero-shuffle signature projection + band explode [[lshPairs]] uses
    * internally, exposed so the index can be built once, WRITTEN (a
    * partitioned parquet table, `band_key`-bucketed at scale), and probed
    * by every later batch. This is the artifact that makes near-dedup
    * incremental: the 100 TB corpus is scanned once when the index is
    * built; afterwards only deltas are ever tokenized.
    */
  def bandKeysOf(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 16, bands: Int = 4,
                 rowsPerBand: Int = 4): DataFrame =
    bandedKeys(
      minhashSignature(df, idCol, textCol, numHashes), bands, rowsPerBand)

  /** Incremental near-dedup — the daily-crawl loop: probe a NEW batch of
    * documents against an existing corpus's LSH index ([[bandKeysOf]]
    * output, or any frame with `band`/`band_key`) and mark each new doc
    * `dup_of_corpus` when ANY of its band keys collides with an indexed
    * key — the same collision-is-duplicate verdict [[keepCanonical]]
    * applies within a corpus (pigeonhole recall at the configured
    * bands × rowsPerBand operating point). Docs with no tokens have no
    * signature, hence no collision → false.
    *
    * Scale shape: the corpus is NEVER re-read — its text was tokenized
    * once at index build — and the index is never exchanged OR broadcast
    * either. A left-semi join can only broadcast its RIGHT side, so
    * probing `deltaKeys SEMI index` would build on the corpus-sized index;
    * instead the join is oriented `index SEMI broadcast(deltaKeys)`: one
    * streamed scan of the index with a batch-sized broadcast build (the
    * hint holds even with autoBroadcastJoinThreshold=-1, the at-scale
    * posture `PlanSpec` pins), producing the collided keys — bounded by
    * the DELTA's key count, not the corpus. A second delta-sized semi join
    * maps those keys back to delta ids. Only 32-byte keys ever move, never
    * text, and nothing corpus-sized moves at all. After the batch commits,
    * append the non-dup docs' [[bandKeysOf]] rows to the index — the
    * loop's only write is delta-sized too. Within-batch duplicates are
    * [[keepCanonical]]'s job; run it on the batch first, then probe the
    * survivors.
    *
    * Contract: `newDocs` is a BATCH (daily-crawl delta), so its band keys
    * broadcast by construction. If your "delta" is itself corpus-sized,
    * this is not the operator — run [[keepCanonical]] over the union (or
    * rebuild the index) instead of broadcasting a corpus.
    *
    * Output: (id, dup_of_corpus) for every new doc.
    */
  def incrementalNearDup(newDocs: DataFrame, idCol: String, textCol: String,
                         index: DataFrame, numHashes: Int = 16,
                         bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val nk = bandKeysOf(newDocs, idCol, textCol, numHashes, bands, rowsPerBand)
    val deltaKeys = nk.select("band", "band_key").distinct()
    // index streamed, delta broadcast: the corpus-sized side never moves
    val hitKeys = index.select("band", "band_key")
      .join(broadcast(deltaKeys), Seq("band", "band_key"), "left_semi")
      .distinct()
    // nk SEMI hitKeys ≡ nk SEMI index on keys: nk's keys are in the delta
    // set by construction, so intersecting with (index ∩ delta) keys is
    // exactly intersecting with index keys
    val hits = nk.join(broadcast(hitKeys), Seq("band", "band_key"), "left_semi")
      .select(col("id")).distinct().withColumn("__hit", lit(true))
    newDocs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("__hit"), lit(false)).as("dup_of_corpus"))
  }

  /** LSH-index MAINTENANCE — the append/retire delta that keeps a
    * long-running [[incrementalNearDup]] loop honest across snapshot
    * generations. Without it, band keys of documents the snapshot diff
    * marks `removed`/`changed` linger forever and new docs get flagged as
    * duplicates of documents that no longer exist.
    *
    * One generation step:
    *  1. RETIRE — anti-join out every index row whose `id` appears in
    *     `retiredIds` (pass the [[graft.operators.Ops.snapshotDiff]] rows
    *     with status `removed` or `changed`; a changed doc's OLD text hashed
    *     those keys, so they must go even though the id survives).
    *  2. APPEND — the [[bandKeysOf]] rows of `admitted` (the docs this
    *     generation adds to the corpus: typically added ∪ changed docs that
    *     survived the probe and any quality filters; pass the CURRENT text).
    *
    * Maintenance identity (pinned in `TextDedupSpec`): if `admitted` is
    * exactly the added ∪ changed docs of the new snapshot and `retiredIds`
    * the removed ∪ changed ids, the maintained index equals a from-scratch
    * [[bandKeysOf]] of the new snapshot, row for row — so probe verdicts
    * from the maintained and rebuilt indexes are identical by construction.
    *
    * Scale shape: the retire side shuffles only (id, band, band_key) rows —
    * 32-byte keys, never text — and the anti-join's right side is
    * delta-sized (AQE broadcasts it). The append side tokenizes ONLY the
    * admitted docs (the zero-shuffle signature projection). Persist the
    * result partitioned by `band` / bucketed by `band_key` so the next
    * generation's probe join stays co-located.
    */
  def indexDelta(index: DataFrame, admitted: DataFrame, idCol: String,
                 textCol: String, retiredIds: DataFrame,
                 numHashes: Int = 16, bands: Int = 4,
                 rowsPerBand: Int = 4): DataFrame = {
    // retired ∪ admitted ids ([[replaceIdFrame]]): admitted docs replace
    // any stored copy, making the apply idempotent under crash replay
    val retired = replaceIdFrame(retiredIds, admitted, idCol)
    index.select("id", "band", "band_key")
      .join(retired, Seq("id"), "left_anti")
      .unionByName(
        bandKeysOf(admitted, idCol, textCol, numHashes, bands, rowsPerBand))
  }

  /** LSH operating-point QA — measured RECALL of the (numHashes, bands,
    * rowsPerBand) banding against exact shingle-Jaccard ground truth, on
    * the frame given (pass a deterministic md5-mod SAMPLE of the corpus at
    * scale; exact Jaccard is quadratic-family and belongs on samples).
    * This is how bands × rows gets TUNED before a 100 TB run instead of
    * trusted from the S-curve formula: the S-curve assumes uniform minhash
    * collision probabilities, real corpora have skewed shingle
    * distributions, and the gap is exactly what this measures.
    *
    * One row: `n_true` (exact-Jaccard pairs ≥ tau), `n_candidates` (LSH
    * banded pairs, uncapped — completeness, not the guarded production
    * form), `n_hit` (true pairs the banding surfaced), and
    * `recall_permille` = 1000·n_hit div n_true (ALL-INTEGER — engine-exact;
    * 0 when there are no true pairs). Precision is derivable
    * (n_hit/n_candidates) but candidates are cheap to verify exactly, so
    * recall is the number that decides the operating point.
    *
    * Scale shape: ground truth is the [[ngramJaccard]] single-scan
    * zero-join pipeline; candidates are the [[lshPairs]] O(n·bands)
    * buckets; the three counts are scalar aggregates cross-joined as
    * one-row frames (broadcast by construction).
    */
  def lshRecallReport(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, tau: Double = 0.5,
                      numHashes: Int = 16, bands: Int = 4,
                      rowsPerBand: Int = 4): DataFrame = {
    val truth = ngramJaccard(df, idCol, textCol, k, tau)
      .select("id_a", "id_b")
    val cand = lshPairs(minhashSignature(df, idCol, textCol, numHashes),
      bands, rowsPerBand, Int.MaxValue, "lsh_recall_cand")
      .select("id_a", "id_b")
    val hit = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .withColumn("recall_permille",
        when(col("n_true") === 0L, lit(0L))
          .otherwise(expr("1000 * n_hit div n_true")))
  }

  /** SimHash (G4): 60-bit token-hash bit vote (60 bits so the fingerprint
    * stays exactly representable from the 15-hex-digit md5 prefix). Bit b of
    * the fingerprint is 1 iff more distinct tokens have bit b set than not.
    * A pure per-row projection — unique-id PRECONDITION as in
    * [[minhashSignature]] (repeated ids emit one fingerprint row each).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 60): DataFrame = {
    // Native fused expression (graftglue.SimHashSig): the whole distinct-
    // token bit-majority vote in one pass per row — a pure PROJECTION,
    // like MinHashSig. The r1-r3 relational shape (explode + groupBy(id)
    // with `bits` conditional sums) shuffled a wide vote table per corpus
    // for an aggregation with no cross-row dependency. Fingerprints are
    // bit-identical (same md5Hash64-top-bits votes — q_simhash/
    // q_simhash_pairs oracles unchanged); zero-token docs yield no row.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftglue.{ColumnBridge, SimHashSig}
    val fp = ColumnBridge.column(SimHashSig(
      ColumnBridge.expression(Text.tokens(col(textCol))), Literal(bits)))
    df.select(col(idCol).as("id"), fp.as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** Hamming distance between two fingerprints. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the fingerprint into `bands` bit-slices —
    * any pair within hamming distance < bands shares at least one exact
    * band (pigeonhole), so bucketing by band value finds all such pairs
    * with an O(n·bands) shuffle; an exact hamming check then filters.
    * Input: output of [[simhash]]. Output: (id_a, id_b, hamming).
    *
    * UNCAPPED BY DEFAULT: unlike [[lshPairs]] (probabilistic by design),
    * this operator's contract is pigeonhole-COMPLETE recall — every pair
    * within `maxHamming` is found — and a default bucket cap would break
    * that contract silently. Opt into `maxBucket` on corpora with
    * un-deduped identical docs (the only realistic source of mega-buckets);
    * a dropped bucket loses its band's pigeonhole witness, and the drop is
    * counted as an observed metric (see [[guardedBuckets]], metric
    * `metricName`), never silent.
    */
  def simhashPairs(sig: DataFrame, maxHamming: Int, bands: Int = 4,
                   bits: Int = 60, maxBucket: Int = Int.MaxValue,
                   metricName: String = "simhash_bucket_guard"): DataFrame = {
    // Pigeonhole completeness holds only when a qualifying pair cannot
    // differ in every band: maxHamming < bands. Remainder bits (bits %
    // bands != 0) would never be banded and silently break recall too.
    require(maxHamming < bands,
      s"pigeonhole recall needs maxHamming ($maxHamming) < bands ($bands)")
    require(bits % bands == 0, s"bits ($bits) must divide evenly into bands ($bands)")
    val perBand = bits / bands
    val mask = (1L << perBand) - 1
    val bandKeys = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * perBand).bitwiseAND(lit(mask)).as("bkey"))
    }: _*)
    val banded = sig.select(col("id"), col("simhash"), explode(bandKeys).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val buckets = guardedBuckets(banded, Seq("band", "bkey"),
      sort_array(collect_set(struct(col("id"), col("simhash")))).as("members"),
      maxBucket, metricName)
    val pairs = bucketPairs(buckets, col("members"), (x, y) =>
        struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
          bit_count(x.getField("simhash").bitwiseXOR(y.getField("simhash")))
            .as("hamming")))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
    pairs.filter(col("hamming") <= maxHamming).distinct()
  }

  /** Embedding-cosine near-dup (G5): pairs with cosine ≥ tau. ALL-PAIRS
    * compare — the join condition has no equality component, so Spark plans a
    * broadcast nested-loop (cartesian): O(n²) work by construction. The
    * mandatory `maxRows` guard fails fast above the cap instead of silently
    * launching a quadratic job on a 100 TB frame; route larger inputs through
    * [[cosineNearDupLsh]].
    */
  def cosineNearDup(df: DataFrame, idCol: String, vecCol: String,
                    tau: Double, maxRows: Long = 10000): DataFrame = {
    // limit(maxRows+1).count() short-circuits after maxRows+1 rows — a full
    // df.count() would materialize the very frame the guard protects against.
    // Clamp to Int range: a caller passing Long.MaxValue to disable the guard
    // must not overflow into a negative limit.
    require(maxRows > 0, s"maxRows must be positive, got $maxRows")
    val cap = if (maxRows >= Int.MaxValue.toLong) Int.MaxValue
              else (maxRows + 1).toInt
    val over = df.limit(cap).count() > maxRows
    require(!over,
      s"cosineNearDup is all-pairs O(n²): input exceeds maxRows=$maxRows; " +
        "use cosineNearDupLsh for large inputs")
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
      .withColumn("norm_a", Vectors.fnorm(col("vec_a")))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
      .withColumn("norm_b", Vectors.fnorm(col("vec_b")))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
        Vectors.fcosine(col("vec_a"), col("vec_b"), col("norm_a"), col("norm_b")))
      .filter(col("cosine") >= tau)
      .select("id_a", "id_b", "cosine")
  }

  /** Scale path for [[cosineNearDup]]: random-hyperplane LSH bands generate
    * candidate pairs (O(n·bands) shuffle keys, never n²), then the exact
    * cosine verifies ≥ tau. Recall < 1 by construction (a near pair missing
    * every band is dropped) — raise `bands` / lower `numPlanes` per band to
    * trade recall for candidate volume.
    *
    * Planes are md5-derived ([[graft.similarity.Ann.hyperplanes]]) so an
    * external engine can rebuild the identical bucketing; `dim` is the
    * embedding dimensionality (a model property — not probed from data).
    */
  def cosineNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                       tau: Double, dim: Int,
                       numPlanes: Int = 8, bands: Int = 2, seed: Int = 42,
                       maxBucket: Int = 1 << 12,
                       metricName: String = "cosine_lsh_bucket_guard"): DataFrame = {
    require(numPlanes % bands == 0, s"numPlanes=$numPlanes not divisible by bands=$bands")
    val perBand = numPlanes / bands
    val planes = graft.similarity.Ann.hyperplanes(numPlanes, dim, seed)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("sig", Vectors.hyperplaneSignature(col("vec"), planes))
      .withColumn("nrm", Vectors.fnorm(col("vec")))
    val bandKeys = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", slice(col("sig"), b * perBand + 1, perBand)).as("bkey"))
    }: _*)
    val banded = base.select(col("id"), col("vec"), col("nrm"), explode(bandKeys).as("bk"))
      .select(col("id"), col("vec"), col("nrm"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    // Group each bucket once and expand its (id-sorted) member pairs in
    // place — same single-pass shape as [[lshPairs]]; `maxBucket` bounds the
    // in-bucket quadratic blowup BEFORE a bucket's vectors ever collect into
    // one row (run exact dedup upstream); drops are counted, see
    // [[guardedBuckets]] (metric `metricName`).
    val buckets = guardedBuckets(banded, Seq("band", "bkey"),
      sort_array(collect_list(struct(col("id"), col("vec"), col("nrm")))).as("members"),
      maxBucket, metricName)
    bucketPairs(buckets, col("members"), (x, y) =>
        struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
          Vectors.fcosine(x.getField("vec"), y.getField("vec"),
            x.getField("nrm"), y.getField("nrm")).as("cosine")))
      .select(col("p.id_a"), col("p.id_b"), col("p.cosine"))
      .filter(col("cosine") >= tau)
      .distinct()
  }

  /** Benchmark decontamination — the training-data hygiene step: flag every
    * corpus document sharing at least `minHits` distinct word-k-grams with
    * an evaluation/benchmark set, so test data can be held out of training.
    *
    * Scale shape: `bench` is eval-set sized, so its distinct shingle set
    * BROADCASTS; the corpus scans once and its text never shuffles — only
    * shingles that actually match the benchmark reach the per-doc count
    * aggregate (contamination is rare by construction), and the resulting
    * hit table (contaminated docs only) broadcasts back onto the corpus id
    * list for the zero-fill. k=8..13 word grams are the usual published
    * decontamination window; lower k = stricter.
    *
    * Output: (id, n_hits, contaminated) — one row per corpus document.
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    k: Int = 8, minHits: Int = 1): DataFrame = {
    require(k > 0 && minHits > 0, s"k and minHits must be positive")
    val benchSh = bench
      .select(Text.tokens(col(benchTextCol)).as("__tk"))
      .select(explode(array_distinct(Text.shinglesOf(col("__tk"), k))).as("shingle"))
      .distinct()
    val hits = shingleRows(corpus, idCol, textCol, k)
      .join(broadcast(benchSh), "shingle")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    // No broadcast hint on `hits`: contamination is usually rare, but when
    // it is widespread (e.g. bench ⊆ corpus — every benchmark doc self-hits)
    // the hit table is corpus-sized and a forced broadcast would blow the
    // driver. AQE still broadcasts it when it measures small.
    corpus.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") >= minHits)
  }

  /** [[decontaminate]]'s scale path for a benchmark set too large to
    * broadcast as an exact hash set — decontaminating one corpus against
    * ANOTHER corpus (every eval suite ever published, a previous training
    * dump): 10⁹ distinct shingles are tens of GB as a broadcast hash join
    * side, but ~1.2 GB as a Bloom filter at fpp = 1%.
    *
    * Shape: build the sketch over the benchmark shingles once (Spark's
    * tree-aggregated `stat.bloomFilter`), probe every corpus shingle with
    * the native [[org.apache.spark.sql.graftglue.BloomContains]] codegen
    * expression (a zero-shuffle filter — the sketch rides the task binary,
    * no join), then verify ONLY the survivors (true hits + the fpp sliver)
    * against the real shingle set. The verify join's left side is
    * candidate-sized, not corpus-sized — that join is what the plain
    * broadcast path runs on the WHOLE corpus shingle stream — and AQE
    * picks its strategy from the surviving volume. Bloom filters have no
    * false negatives, so verify sees every true hit and the output is
    * IDENTICAL to [[decontaminate]] (q_decontaminate_bloom shares its
    * oracle); false positives cost shuffle bytes, never correctness.
    *
    * `expectedItems` sizes the sketch; pass the known benchmark shingle
    * cardinality to skip the one bench-sized counting job (model-sized
    * driver work either way — the corpus is never touched by it).
    */
  def decontaminateBloom(corpus: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         k: Int = 8, minHits: Int = 1, fpp: Double = 0.01,
                         expectedItems: Long = -1L): DataFrame = {
    import org.apache.spark.sql.graftglue.{BloomContains, ColumnBridge}
    require(k > 0 && minHits > 0, s"k and minHits must be positive")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val benchSh = bench
      .select(Text.tokens(col(benchTextCol)).as("__tk"))
      .select(explode(array_distinct(Text.shinglesOf(col("__tk"), k))).as("shingle"))
      .distinct()
    val n = if (expectedItems > 0) expectedItems else math.max(benchSh.count(), 1L)
    val bf = benchSh.stat.bloomFilter("shingle", n, fpp)
    val candidates = shingleRows(corpus, idCol, textCol, k)
      .filter(ColumnBridge.column(
        BloomContains(ColumnBridge.expression(col("shingle")), bf)))
    // Exact verify: no broadcast hint — the premise is that benchSh is big;
    // AQE chooses from the measured candidate volume.
    val hits = candidates.join(benchSh, Seq("shingle"))
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") >= minHits)
  }

  /** [[decontaminate]] via winnowing fingerprints — the THINNED cross-corpus
    * contamination check [[winnowedPrints]]' sketch exists for: both sides
    * winnow with the same (k, w), so any run of ≥ w + k − 1 tokens shared
    * between a corpus document and any benchmark document is GUARANTEED to
    * contribute an identical selected print to both sketches, at any token
    * offset — detection survives thinning to ~2/(w+1) of the k-gram volume,
    * which stride sampling and plain shingle subsampling cannot promise.
    *
    * Contract vs the exact path: hits are shared PRINTS, not shared
    * k-grams, so `n_hits` counts differently than [[decontaminate]] and a
    * shared run shorter than w + k − 1 tokens may go unseen (the exact
    * path sees any shared k-gram). That is the documented trade: the bench
    * side broadcasts at ~2/(w+1) of its shingle-set size and the corpus
    * side ships the same fraction into the hit aggregate, which is what
    * makes "every eval suite ever published" checkable against 100 TB in
    * one pass. `minHits` counts DISTINCT shared prints per document.
    *
    * Shape: bench prints (eval-sized, thinned) broadcast; corpus prints
    * are the same zero-shuffle projection q_winnow audits; the broadcast
    * join filters before anything shuffles, so the only exchange carries
    * matched prints (contamination-sized, not corpus-sized). The corpus
    * prints table can also be built ONCE, stored, and probed per bench
    * drop — the cross-corpus artifact contract of [[winnowedPrints]].
    *
    * Output: (id, n_hits, contaminated) — one row per corpus document.
    */
  def decontaminateWinnow(corpus: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, benchTextCol: String,
                          k: Int = 8, w: Int = 4, minHits: Int = 1): DataFrame = {
    require(minHits > 0, s"minHits must be positive, got $minHits")
    val benchPr = winnowedPrints(
        bench.select(lit(0L).as("__bid"), col(benchTextCol).as("__btx")),
        "__bid", "__btx", k, w)
      .select(col("print")).distinct()
    val hits = winnowedPrints(corpus, idCol, textCol, k, w)
      .join(broadcast(benchPr), "print")
      .groupBy("id").agg(count_distinct(col("print")).as("n_hits"))
    corpus.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") >= minHits)
  }

  /** Incremental substring-contamination probe — [[decontaminateWinnow]]
    * against a STORED corpus prints index ([[winnowedPrints]] rows built
    * once over the corpus and persisted), oriented for a corpus-sized
    * index: the index is STREAMED through a semi join whose broadcast
    * build is the delta's print set (the [[incrementalNearDup]] build-side
    * law — a left-semi join can only broadcast its right side, so
    * delta-SEMI-index would put the corpus on the build). Nothing
    * corpus-sized ever exchanges or broadcasts; only 8-byte prints move.
    * Detection inherits winnowing's guarantee: any run ≥ w + k − 1 tokens
    * shared with ANY indexed document (same k, w) shares a print.
    *
    * This is the daily-crawl twin of [[decontaminateWinnow]] (which
    * broadcasts an eval-sized bench): here the INDEX side is the big one
    * and the probing batch is small. Equivalence law (spec-pinned):
    * probing an index built from a corpus equals decontaminateWinnow of
    * the delta against that corpus's text.
    *
    * Contract: `newDocs` is a BATCH — its print set broadcasts by
    * construction. Output: (id, n_hits, contaminated) per new doc;
    * `n_hits` counts DISTINCT shared prints.
    */
  def winnowProbe(newDocs: DataFrame, idCol: String, textCol: String,
                  printsIndex: DataFrame, k: Int = 8, w: Int = 4,
                  minHits: Int = 1): DataFrame = {
    require(minHits > 0, s"minHits must be positive, got $minHits")
    val dp = winnowedPrints(newDocs, idCol, textCol, k, w)
      .select(col("id"), col("print"))
    val deltaPr = dp.select("print").distinct()
    // index streamed, delta broadcast: the corpus-sized side never moves
    val hitPr = printsIndex.select("print")
      .join(broadcast(deltaPr), Seq("print"), "left_semi")
      .distinct()
    val hits = dp.join(broadcast(hitPr), Seq("print"))
      .groupBy("id").agg(count_distinct(col("print")).as("n_hits"))
    newDocs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") >= minHits)
  }

  /** Prints-index MAINTENANCE — the [[indexDelta]] pattern for the
    * [[winnowedPrints]] artifact: retire rows whose `id` the snapshot diff
    * marks removed/changed (old text selected those prints), append the
    * admitted docs' prints (current text). Prints are a pure per-document
    * function, so the maintenance identity is exact by construction:
    * maintained index ≡ from-scratch [[winnowedPrints]] of the new
    * snapshot, row for row (oracled as q_winnow_index_delta). The retire
    * anti-join's right side is delta-sized (AQE broadcasts it); the append
    * side tokenizes only admitted docs.
    */
  def winnowIndexDelta(index: DataFrame, admitted: DataFrame, idCol: String,
                       textCol: String, retiredIds: DataFrame,
                       k: Int = 8, w: Int = 4): DataFrame = {
    // retired ∪ admitted ids ([[replaceIdFrame]]): admitted docs replace
    // any stored copy, making the apply idempotent under crash replay
    val retired = replaceIdFrame(retiredIds, admitted, idCol)
    index.select("id", "pos", "print")
      .join(retired, Seq("id"), "left_anti")
      .unionByName(winnowedPrints(admitted, idCol, textCol, k, w))
  }

  /** Span-level corpus dedup (the C4/RefinedWeb "remove repeated spans"
    * step): cut every document into NON-overlapping `window`-token chunks,
    * hash each chunk, and mark a chunk as a duplicate when the same hash
    * occurred at a lexicographically earlier (doc_id, chunk_id) — the first
    * occurrence corpus-wide stays, later copies are droppable. Per-document
    * rollup: (id, n_chunks, n_dup_chunks, dup_frac) with the fraction exact
    * (bigint ÷ bigint in double). Empty documents yield no row.
    *
    * Scale: chunking is a zero-shuffle projection ([[graft.functions.Text.chunk]]
    * at stride = window); ownership is ONE shuffle on the md5 chunk hash
    * (a min over (doc_id, chunk_id) structs per hash — map-side partial),
    * and the per-doc rollup re-shuffles only (id, flag) pairs. The chunk
    * text itself never travels: only its 32-byte hash does.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                window: Int = 64): DataFrame = {
    val chunks = Text.chunk(df, idCol, textCol, window, window)
      .select(col("id"), col("chunk_id"), md5(col("chunk_text")).as("__h"))
    val w = Window.partitionBy("__h")
    val owner = chunks.withColumn("__first",
      min(struct(col("id"), col("chunk_id"))).over(w))
    owner.select(col("id"),
        (col("__first.id") =!= col("id") ||
          col("__first.chunk_id") =!= col("chunk_id")).as("__dup"))
      .groupBy("id").agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        col("n_dup_chunks").cast(DoubleType) / col("n_chunks").cast(DoubleType))
  }

  /** The TRANSFORM companion to [[spanDedup]]: remove every duplicated
    * span and hand back the cleaned corpus — the step a pipeline actually
    * ships, where spanDedup only reports fractions. Same ownership rule
    * (first (doc_id, chunk_id) corpus-wide keeps each hash; later copies
    * drop), then each document's SURVIVING chunks reassemble in chunk
    * order. `clean_text` is the space-joined surviving token windows —
    * whitespace normalizes to single spaces, the same canonical form
    * `Text.tokens` reads, so downstream ops see identical token streams.
    * A fully-duplicated document survives as a row with empty clean_text
    * (droppable by filter) rather than vanishing silently.
    *
    * Scale: identical movement to [[spanDedup]] plus the chunk TEXT riding
    * the hash shuffle (the rewrite needs the words back — unavoidable for
    * a transform; the stats-only form still never ships text).
    *
    * Output: (id, n_chunks, n_dup_chunks, clean_text).
    */
  def spanDedupClean(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 64): DataFrame = {
    val chunks = Text.chunk(df, idCol, textCol, window, window)
      .select(col("id"), col("chunk_id"), col("chunk_text"),
        md5(col("chunk_text")).as("__h"))
    val w = Window.partitionBy("__h")
    val owner = chunks.withColumn("__first",
      min(struct(col("id"), col("chunk_id"))).over(w))
    owner.withColumn("__keep",
        col("__first.id") === col("id") && col("__first.chunk_id") === col("chunk_id"))
      .groupBy("id").agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dup_chunks"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("chunk_id"), col("chunk_text"))))),
          x => x.getField("chunk_text")), " ").as("clean_text"))
  }

  /** Boilerplate removal (the CCNet/C4 "drop over-common paragraphs" step):
    * cut documents into non-overlapping `window`-token chunks like
    * [[spanDedupClean]], but drop a chunk when its hash appears in at least
    * `minDocFreq` DISTINCT documents — from EVERY document, first copy
    * included. The two ops answer different questions: span dedup keeps one
    * canonical copy of long repeated spans (plagiarized/mirrored passages);
    * boilerplate is navigation chrome, license banners, cookie notices —
    * text that is noise in every document it appears in, so ownership is
    * the wrong rule and document FREQUENCY is the signal.
    *
    * Scale: chunk hashing is the same zero-shuffle projection; the per-hash
    * document frequency is a distinct + count on (hash, id) pairs — two
    * partial-agg shuffles of 32-byte hashes, never an Expand and never the
    * text; the df table joins back on the hash WITHOUT a broadcast hint
    * (boilerplate hashes are usually few, but the df table is corpus-sized
    * in the worst case — AQE broadcasts when it measures small). Reassembly
    * is [[spanDedupClean]]'s sorted-struct collect. A fully-boilerplate
    * document survives with empty clean_text rather than vanishing.
    *
    * Output: (id, n_chunks, n_boiler_chunks, clean_text).
    */
  def boilerplateClean(df: DataFrame, idCol: String, textCol: String,
                       window: Int = 64, minDocFreq: Int = 2): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val chunks = Text.chunk(df, idCol, textCol, window, window)
      .select(col("id"), col("chunk_id"), col("chunk_text"),
        md5(col("chunk_text")).as("__h"))
    val dfreq = chunks.select(col("__h"), col("id")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__docs"))
    chunks.join(dfreq, Seq("__h"))
      .withColumn("__boiler", col("__docs") >= minDocFreq)
      .groupBy("id").agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_boiler_chunks"),
        array_join(transform(
          array_sort(collect_list(when(!col("__boiler"),
            struct(col("chunk_id"), col("chunk_text"))))),
          x => x.getField("chunk_text")), " ").as("clean_text"))
  }

  /** Shift-robust exact-substring dedup (the "dedup repeated substrings ≥ L
    * tokens" step of Lee et al.-style pipelines): hash EVERY `stride`-spaced
    * `window`-token sliding window, mark a window as duplicated when the
    * same hash occurred at a lexicographically earlier (doc_id, start), and
    * merge each document's overlapping duplicated windows into MAXIMAL
    * spans. This is the alignment-free companion to [[spanDedup]]: fixed
    * non-overlapping chunks miss a copied passage the moment an insertion
    * shifts it off the chunk grid, while sliding windows at stride 1 catch
    * any duplicated run of ≥ `window` tokens REGARDLESS of token offset
    * (every window of the run exists in both copies, so at least one hash
    * collides). Stride s > 1 samples window starts, so a shared run is
    * only GUARANTEED detected when its offsets in the two copies agree
    * mod s (windows must start at the same position inside the run) —
    * a cheap approximate screen, not the full guarantee; stride 1 is the
    * default and the correctness-grade setting.
    *
    * Scale: windowing + hashing is a zero-shuffle projection (the token
    * array slices in place; only (id, start, 32-byte md5) rows leave the
    * scan — document text never shuffles). Ownership is ONE hash shuffle of
    * those fixed-width rows — at stride 1 that is corpus-TOKEN-sized, which
    * is the knob `stride` exists for: stride s divides the shuffle volume
    * by s at the cost of the detection guarantee (see above).
    * Span merging shuffles only the DUPLICATED windows (one exchange on id)
    * and runs the classic gaps-and-islands windows per document. Docs with
    * fewer than `window` tokens carry no full window and report 0 spans.
    *
    * Output: (id, n_tokens, n_dup_spans, dup_tokens, dup_frac) — dup_tokens
    * is the union length of the maximal duplicated spans, dup_frac the
    * exact bigint÷bigint fraction of the document's tokens inside one.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 32, stride: Int = 1): DataFrame = {
    val (base, spans) = substringSpans(df, idCol, textCol, window, stride)
    val perDoc = spans.groupBy("id")
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("__e") - col("__s")).as("dup_tokens"))
    base.select(col("id"), col("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_frac",
        when(col("n_tokens") > 0,
          col("dup_tokens").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .otherwise(lit(0.0)))
  }

  /** The TRANSFORM companion to [[substringDedup]] (what [[spanDedupClean]]
    * is to [[spanDedup]]): remove every token inside a maximal duplicated
    * span and reassemble the survivors in token order — the Lee-et-al-style
    * "cut the repeated substring, keep the first copy corpus-wide" rewrite,
    * robust to the copied passage sitting at ANY token offset. Removal
    * granularity is whole windows, so a span's edges may shave up to
    * window−1 context tokens beyond the minimal duplicated run — inherent
    * to window-hash dedup, and why `window` should track the minimum run
    * length worth cutting. Stride is fixed at 1: a sampled screen cannot
    * safely REWRITE (a missed window would leave half a span behind).
    *
    * Scale: identical movement to [[substringDedup]] plus one per-doc
    * span-list join back to the token arrays (span lists are doc-bounded
    * and only exist for docs WITH duplicates); the rewrite itself is a
    * codegen HOF filter over the token array — no extra shuffle.
    *
    * Output: (id, n_tokens, dup_tokens, clean_text); a fully-duplicated
    * document survives with empty clean_text rather than vanishing.
    */
  def substringDedupClean(df: DataFrame, idCol: String, textCol: String,
                          window: Int = 32): DataFrame = {
    val (base, spans) = substringSpans(df, idCol, textCol, window, 1)
    val spanLists = spans.groupBy("id").agg(
      collect_list(struct(col("__s"), col("__e"))).as("__spans"),
      sum(col("__e") - col("__s")).as("dup_tokens"))
    base.join(spanLists, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("__spans").isNull, array_join(col("__tk"), " "))
          .otherwise(array_join(filter(col("__tk"),
            (tok, i) => !exists(col("__spans"),
              sp => i.cast(LongType) >= sp.getField("__s") &&
                i.cast(LongType) < sp.getField("__e"))),
            " ")).as("clean_text"))
  }

  /** Sliding-window hash projection shared by [[substringDedup]] and
    * [[graft.streaming.Streams.substringOwnersStream]]: pure zero-shuffle
    * projection (streamable), one row per full `window`-token window at
    * `stride`-spaced starts. Output: (id, start, __h).
    */
  private[graft] def windowHashes(df: DataFrame, idCol: String, textCol: String,
                                  window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    df.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__tk"))
      .select(col("id"), col("__tk"), size(col("__tk")).cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") >= window)
      .select(col("id"), col("__tk"),
        explode(sequence(lit(0L), expr(s"(n_tokens - $window) div $stride"))).as("__i"))
      .select(col("id"), (col("__i") * stride).as("start"),
        md5(array_join(slice(col("__tk"), (col("__i") * stride + 1).cast(IntegerType),
          lit(window)), " ")).as("__h"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS algorithm): per document, hash every k-token gram, then slide a
    * w-hash window over the hash sequence and select the RIGHTMOST MINIMUM
    * of each window. Expected density 2/(w+1) of the gram count — yet any
    * substring of ≥ w + k − 1 tokens shared by two documents is GUARANTEED
    * to contribute at least one identical selected fingerprint in both,
    * at ANY token offset (selection inside a window depends only on the
    * window's own hash values, which agree across copies of the run).
    * This is the principled scale knob [[substringDedup]]'s `stride`
    * lacks: stride-s sampling loses detection unless offsets agree mod s;
    * winnowing thins by ~the same factor and keeps the guarantee.
    *
    * Everything per-document is a zero-shuffle HOF projection over the
    * token array (gram hashing, window argmin selection, dedup of
    * positions) — only the selected (id, pos, 8-byte print) rows leave
    * the scan, ~2/(w+1) of the volume the stride-1 substring path
    * shuffles. Hashes are 60-bit md5 prefixes (the KMV `conv` recipe, so
    * an external engine reproduces them bit-for-bit); rightmost tie-break
    * is reverse + first-position arithmetic, identical cross-engine.
    *
    * Output: (id, pos, print) — the document sketch, the artifact to
    * store/index for cross-corpus plagiarism/contamination checks.
    */
  def winnowedPrints(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, s"need k > 0 and w > 0, got k=$k w=$w")
    // The degenerate explode(array(x)) selects below are MATERIALIZATION
    // BARRIERS, not noise: adjacent Projects collapse, and a collapsed
    // lambda re-evaluates the inlined array expression at EVERY reference
    // in every lambda call — measured 485 s at sf0.1 (the k-gram md5
    // transform re-ran ~4× per window per row) vs ~1 s with the Generate
    // boundaries forcing each array to compute once per document row.
    df.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__tk0"))
      .filter(size(col("__tk0")) >= k)
      .select(col("id"), explode(array(col("__tk0"))).as("__tk"))
      .withColumn("__hs0", expr(
        s"""transform(sequence(0, size(__tk) - $k),
           |  i -> cast(conv(substring(md5(array_join(slice(__tk, i + 1, $k), ' ')),
           |       1, 15), 16, 10) as bigint))""".stripMargin))
      .select(col("id"), explode(array(col("__hs0"))).as("__hs"))
      .withColumn("__pos", expr(
        s"""array_distinct(transform(sequence(0, greatest(size(__hs) - $w, 0)),
           |  j -> j + least($w, size(__hs)) - array_position(
           |         reverse(slice(__hs, j + 1, least($w, size(__hs)))),
           |         array_min(slice(__hs, j + 1, least($w, size(__hs)))))))""".stripMargin))
      .select(col("id"), explode(col("__pos")).as("pos"), col("__hs"))
      .select(col("id"), col("pos"),
        element_at(col("__hs"), (col("pos") + 1).cast(IntegerType)).as("print"))
  }

  /** Winnowed near-dup report: [[winnowedPrints]] + the corpus-wide
    * first-(id, pos) ownership rule over the print VALUE, rolled up per
    * document — (id, n_prints, n_dup_prints, dup_frac), the thinned
    * substring-dedup signal with the detection guarantee intact. One
    * print-hash shuffle (ownership window) at 2/(w+1) density plus a
    * doc-count-sized join back; document text never shuffles. Docs with
    * fewer than k tokens carry no grams and report 0 prints.
    */
  def winnowedDedup(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, w: Int = 4): DataFrame = {
    val prints = winnowedPrints(df, idCol, textCol, k, w)
    val wOwn = Window.partitionBy("print")
    val perDoc = prints
      .withColumn("__first", min(struct(col("id"), col("pos"))).over(wOwn))
      .select(col("id"),
        (col("__first.id") =!= col("id") || col("__first.pos") =!= col("pos"))
          .as("__dup"))
      .groupBy("id").agg(
        count(lit(1)).as("n_prints"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_prints"))
    df.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_prints"), lit(0L)).as("n_prints"),
        coalesce(col("n_dup_prints"), lit(0L)).as("n_dup_prints"))
      .withColumn("dup_frac",
        when(col("n_prints") > 0,
          col("n_dup_prints").cast(DoubleType) / col("n_prints").cast(DoubleType))
          .otherwise(lit(0.0)))
  }

  /** Merge duplicated windows `(id, start, __end)` into maximal per-doc
    * spans `(id, __s, __e)` — gaps-and-islands over each document's dup
    * windows (shuffles only the dup rows, one exchange on id). Shared by
    * the batch path and the streaming drain-time replay.
    */
  private[graft] def mergeSpans(dups: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy("id").orderBy("start")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("id").orderBy("start")
      .rowsBetween(Window.unboundedPreceding, 0)
    dups
      .withColumn("__pmax", max(col("__end")).over(wPrev))
      .withColumn("__new",
        when(col("__pmax").isNull || col("start") > col("__pmax"), 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(wRun))
      .groupBy("id", "__island")
      .agg(min(col("start")).as("__s"), max(col("__end")).as("__e"))
      .select(col("id"), col("__s"), col("__e"))
  }

  /** Shared span computation for [[substringDedup]] / [[substringDedupClean]]:
    * returns (base = (id, __tk, n_tokens) for every doc,
    * spans = (id, __s, __e) maximal merged dup spans for docs that have any).
    */
  private def substringSpans(df: DataFrame, idCol: String, textCol: String,
                             window: Int, stride: Int): (DataFrame, DataFrame) = {
    val base = df.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__tk"))
      .select(col("id"), col("__tk"), size(col("__tk")).cast(LongType).as("n_tokens"))
    val wins = windowHashes(df, idCol, textCol, window, stride)
    val wOwn = Window.partitionBy("__h")
    val dups = wins
      .withColumn("__first", min(struct(col("id"), col("start"))).over(wOwn))
      .filter(col("__first.id") =!= col("id") || col("__first.start") =!= col("start"))
      .select(col("id"), col("start"), (col("start") + window).as("__end"))
    (base, mergeSpans(dups))
  }

  /** Connected components over a near-dup pair list: every document in a
    * transitively-connected group maps to the group's MINIMUM id (the
    * canonical representative). This is the step after any pair generator
    * ([[ngramJaccard]], [[lshPairs]], [[simhashPairs]], [[cosineNearDupLsh]])
    * that turns pairwise matches into keep/drop decisions: keep
    * `doc_id == canonical`, drop the rest.
    *
    * Min-label propagation to FIXPOINT: each round every node takes the
    * minimum label among itself and its neighbors (one shuffle join + one
    * aggregate per round); converged when no label changes. Rounds needed =
    * eccentricity of each component's min node (≤ diameter) — near-dup
    * graphs are dense clumps, so 2-4 rounds in practice, `maxRounds` guards
    * pathological chains. Results are iteration-count-independent BY
    * construction (fixpoint), so the output is deterministic and matches an
    * exact transitive-closure oracle. The edge list and each round's label
    * table end in an EAGER `localCheckpoint` — lineage truncates to an RDD
    * scan, so the plan never deepens past one round. A `persist` would NOT
    * do: caching short-circuits re-execution but leaves the logical plan
    * intact, and with the pair generator (a whole shingle pipeline)
    * re-inlined at every edge reference the analyzed tree grew to hundreds
    * of exchanges (measured: 378 in q_dup_clusters's static plan before
    * the switch). On a real cluster prefer `sc.setCheckpointDir` +
    * reliable `.checkpoint()` for fault tolerance.
    *
    * Output: (member, canonical) for every id appearing in `pairs` —
    * singleton documents never enter a pair list; union them back with
    * canonical = own id if a total mapping is needed.
    */
  def dupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                  maxRounds: Int = 20, pointerJump: Boolean = true): DataFrame = {
    require(maxRounds > 0, s"maxRounds must be positive, got $maxRounds")
    val fwd = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    val sym = fwd.union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().pinned()
    var labels = sym.select(col("src").as("member")).distinct()
      .withColumn("label", col("member"))
      .pinned()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // neighbor labels flow along edges; min with the node's own label.
      // Change detection rides the SAME aggregate: self rows are tagged, so
      // each member's previous label surfaces as max(label WHERE self) —
      // no separate next⋈labels join per round just to count changes.
      val nbr = sym.join(labels.withColumnRenamed("member", "dst"), "dst")
        .select(col("src").as("member"), col("label"), lit(0).as("__self"))
      val agg = labels.select(col("member"), col("label"), lit(1).as("__self"))
        .union(nbr)
        .groupBy("member").agg(min(col("label")).as("label"),
          max(when(col("__self") === 1, col("label"))).as("__old"))
        .pinned()
      // Pointer jump (path compression): label ← label(label). Every label
      // IS a member (labels only ever take member-id values), so the
      // compose join is total. A propagate round moves information ONE hop;
      // composing pointers after it lets the reached-distance DOUBLE per
      // round, so a diameter-d chain converges in O(log d) rounds instead
      // of O(d) — measured on a 128-node chain at sf0.1 local[32]: 14.6s
      // plain vs 2.1s jumped; q_dup_clusters itself is flat (2.60→2.63s,
      // within this machine's noise). Fixpoint unchanged: at
      // convergence label(label(x)) = label(x) for all x, and the final
      // require below still proves it. Opt out (pointerJump=false) only to
      // replay the plain round structure.
      val next =
        if (!pointerJump) agg
        else agg.join(
            agg.select(col("member").as("label"), col("label").as("__jl")), "label")
          .select(col("member"), col("__jl").as("label"), col("__old"))
          .pinned()
      changed = next.filter(col("label") =!= col("__old")).count()
      labels = next.select("member", "label")
      round += 1
    }
    // The fixpoint IS the correctness contract (scaladoc: matches exact
    // transitive closure). Exiting at maxRounds with changes pending would
    // silently return wrong labels for any component whose min-node
    // eccentricity exceeds maxRounds — fail loudly instead.
    require(changed == 0,
      s"dupClusters did not converge in $maxRounds rounds ($changed labels " +
        "still changing); raise maxRounds — a component's min-node " +
        "eccentricity exceeds the round budget")
    labels.select(col("member"), col("label").as("canonical"))
  }

  /** Soft deduplication (G50): per-document sampling weights from near-dup
    * cluster sizes instead of hard drops — the "don't delete, downweight"
    * posture (SoftDedup, He et al. ACL 2024, argues hard near-dedup
    * discards useful signal; inverse-duplication-count reweighting keeps
    * every document while equalizing each CONTENT's total sampling mass). A doc in a near-dup cluster of n copies gets
    * `weight_permille = 1000 div n`; singletons keep 1000. Feed the weight
    * into [[graft.operators.Ops.weightedSample]] (deterministic per-row
    * Bernoulli) or a loss-weighting column — composing with the md5-bucket
    * samplers keeps the whole soft-dedup path RNG-free and
    * engine-replayable.
    *
    * Pipeline = the [[keepCanonical]] flagship minus the drop: zero-shuffle
    * minhash signatures → guarded LSH banding → pointer-jumped connected
    * components → cluster-size rollup (a cluster-count-sized aggregate)
    * joined back to the id column only — document text never shuffles, and
    * the only corpus-sized exchange is the banding's. Same
    * collision-is-duplicate operating point as keepCanonical (tune with
    * [[lshRecallReport]]).
    */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 16, bands: Int = 4, rowsPerBand: Int = 4,
                       maxBucket: Int = 1 << 12,
                       metricName: String = "lsh_bucket_guard"): DataFrame = {
    val sig = minhashSignature(df, idCol, textCol, numHashes)
    val pairs = lshPairs(sig, bands, rowsPerBand, maxBucket, metricName)
    val clusters = dupClusters(pairs) // (member, canonical)
    val sizes = clusters.groupBy("canonical").agg(count(lit(1)).as("__n"))
    val m = clusters.join(sizes, "canonical")
      .select(col("member").as(idCol), col("canonical"), col("__n"))
    df.select(col(idCol))
      .join(m, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("canonical"), col(idCol)).as("cluster"),
        coalesce(col("__n"), lit(1L)).as("n_copies"),
        expr("1000 div coalesce(__n, 1)").as("weight_permille"))
  }

  /** KMV sketch of one corpus's k-gram shingle universe: the `sketchK`
    * smallest distinct 60-bit shingle hashes (the winnow-family `conv`
    * recipe — externally reproducible), as ONE row holding an ascending
    * BIGINT array. The whole reduction is the bounded
    * [[org.apache.spark.sql.graftglue.KmvSet]] aggregate: state ≤ sketchK
    * longs, map-side partial aggregation, the only exchange carries
    * ≤ sketchK rows per input partition — a 100 TB corpus reduces to one
    * scan plus a k-sized exchange, and the sketch row is storable (probe a
    * new snapshot against last month's sketch without re-reading it).
    */
  def kmvShingleSketch(df: DataFrame, textCol: String,
                       ngram: Int = 5, sketchK: Int = 1024): DataFrame = {
    require(ngram > 0 && sketchK > 0, "ngram and sketchK must be positive")
    import org.apache.spark.sql.graftglue.{ColumnBridge, KmvSet}
    val h = df.select(Text.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= ngram)
      // per-doc distinct BEFORE the explode trims within-doc repetition at
      // projection cost; cross-doc duplicates collapse inside KmvSet
      .select(explode(array_distinct(Text.shinglesOf(col("__tk"), ngram))).as("__s"))
      .select(conv(substring(md5(col("__s")), 1, 15), 16, 10)
        .cast(LongType).as("__h"))
    h.agg(ColumnBridge.column(KmvSet(
      ColumnBridge.expression(col("__h")), sketchK).toAggregateExpression())
      .as("kmv"))
  }

  /** Corpus-overlap estimation (G49): how much of corpus B's shingle
    * universe does corpus A share — the "is this crawl mostly a re-crawl /
    * how contaminated is source X by source Y" question answered WITHOUT
    * joining the two corpora, from two [[kmvShingleSketch]] rows alone
    * (Broder resemblance over a bottom-k sample; Beyer et al. SIGMOD'07
    * give the union/Jaccard estimators under multiset operations —
    * reference framework `metalpipe` has no sketch layer; this is part of
    * the engine's first-class training-data surface).
    *
    * Estimators, all over K = the `sketchK` smallest distinct hashes of
    * S_A ∪ S_B (computable from the two sketches because min-k of a union
    * is min-k of the merged min-k's):
    *  - `jaccard_permille` = 1000·|K ∩ S_A ∩ S_B| / |K| — the standard
    *    KMV resemblance estimate (exact when |S_A ∪ S_B| ≤ sketchK);
    *  - `containment_a_permille` = 1000·|K ∩ S_A ∩ S_B| / |K ∩ S_A| —
    *    estimates |S_A ∩ S_B| / |S_A| ("how much of A is in B"); same for
    *    b. Membership of a K element in S_A is exact: every element of K
    *    at or below A's k-th minimum is covered by A's sketch.
    *  - `d_union_est` = the KMV distinct-count estimate (k−1)/v_k scaled
    *    to the 60-bit hash space (exact count when the union fits).
    * All arithmetic is integer except the single (k−1)·2⁶⁰/v_k division,
    * done once in double on exactly-representable operands — the
    * BM25/DSIR determinism pattern, so DuckDB replays every column
    * bit-for-bit from `SELECT DISTINCT … ORDER BY … LIMIT k` per side.
    *
    * Scale shape: two corpus scans (one per side), two k-sized exchanges,
    * then a 1×1 cross join of single-row frames — nothing corpus-sized
    * moves, no cross-corpus join exists, and either side's sketch can be
    * a stored artifact. Accuracy is the KMV bound (~1/√sketchK relative
    * error): sketchK = 1024 → ~3%, 1<<16 → ~0.4%, state still ≤ 512 KiB.
    */
  def corpusOverlap(a: DataFrame, b: DataFrame, textCol: String,
                    ngram: Int = 5, sketchK: Int = 1024): DataFrame =
    corpusOverlapFromSketches(
      kmvShingleSketch(a, textCol, ngram, sketchK),
      kmvShingleSketch(b, textCol, ngram, sketchK), sketchK)

  /** [[corpusOverlap]] from two PRECOMPUTED sketch rows (each a 1-row
    * frame with a `kmv` array — [[kmvShingleSketch]]'s output, a stored
    * artifact, or [[graft.streaming.Streams.kmvSketchFinish]]'s drain):
    * the stored-sketch path — compare this month's crawl to last month's
    * without re-reading either corpus. Same statistics, same oracle.
    */
  def corpusOverlapFromSketches(skA: DataFrame, skB: DataFrame,
                                sketchK: Int): DataFrame = {
    val ka = skA.select(col("kmv").as("__ka"))
    val kb = skB.select(col("kmv").as("__kb"))
    val union = array_sort(array_union(col("__ka"), col("__kb")))
    val kk = least(lit(sketchK), size(union))
    ka.crossJoin(kb)
      .withColumn("__k", slice(union, 1, sketchK))
      .withColumn("__ku", kk.cast(LongType))
      .withColumn("__ma", size(array_intersect(col("__k"), col("__ka"))).cast(LongType))
      .withColumn("__mb", size(array_intersect(col("__k"), col("__kb"))).cast(LongType))
      .withColumn("__mboth", size(array_intersect(
        array_intersect(col("__k"), col("__ka")), col("__kb"))).cast(LongType))
      // union-size estimate: exact when the union fit in the sketch, else
      // (k-1)·2^60 / v_k with v_k = the k-th smallest union hash; the
      // product is exact in double ((k-1) ≤ 2^20, 2^60 dyadic), one
      // IEEE division + floor — engine-stable
      // guard the degenerate empty-universe case (both corpora shorter
      // than ngram everywhere): element_at(_, 0) is a runtime error and
      // x div 0 a null — an all-zeros row is the meaningful answer
      .withColumn("__vk", when(size(col("__k")) > 0,
        element_at(col("__k"), size(col("__k")))))
      .withColumn("d_union_est",
        when(col("__ku") < sketchK, col("__ku"))
          .otherwise(floor((lit(sketchK - 1).cast(DoubleType) *
            lit(1152921504606846976.0)) / col("__vk").cast(DoubleType))
            .cast(LongType)))
      .select(
        col("__ku").as("k_used"),
        col("__mboth").as("m_both"),
        col("__ma").as("m_a"),
        col("__mb").as("m_b"),
        expr("CASE WHEN __ku > 0 THEN __mboth * 1000 div __ku ELSE 0L END")
          .as("jaccard_permille"),
        expr("CASE WHEN __ma > 0 THEN __mboth * 1000 div __ma ELSE 0L END")
          .as("containment_a_permille"),
        expr("CASE WHEN __mb > 0 THEN __mboth * 1000 div __mb ELSE 0L END")
          .as("containment_b_permille"),
        col("d_union_est"))
  }
}
