package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Text
import graft.Caching.TrackedSyntax

/** Keyword search over a document corpus: per-term TF-IDF statistics and
  * BM25 top-k retrieval (the lexical half of a retrieval pipeline; the
  * vector half is [[Ann]]).
  *
  * Scale shape: the corpus tokenizes in ONE scan; exploded tokens filter to
  * the query's terms BEFORE any shuffle, so the per-(doc, term) aggregate
  * moves a query-sized slice, never the corpus. Document frequencies and
  * the corpus-size row both BROADCAST back onto the stats. Top-k runs as
  * orderBy+limit = TakeOrderedAndProject (per-partition heaps + driver
  * merge), not a global sort.
  *
  * Determinism: `ln` is NOT bit-identical across engines (measured: 2/2000
  * inputs differ by 1 ulp vs DuckDB), so per-term scores quantize to
  * DECIMAL(18,6) BEFORE the per-document sum — the sum is then exact and
  * order-independent, and a 1-ulp `ln` wobble (~1e-13 absolute) only flips
  * a 1e-6-spaced quantization boundary with negligible probability. Raw
  * double summation would also be partition-order nondeterministic.
  */
object Search {

  /** Per-(doc, query-term) stats: (id, dl, term, tf) — document length in
    * tokens and term frequency, restricted to `queryTerms`.
    */
  def termStats(docs: DataFrame, idCol: String, textCol: String,
                queryTerms: Seq[String]): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__tk"))
      .select(col("id"), size(col("__tk")).cast(LongType).as("dl"),
        explode(col("__tk")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("id", "dl", "term").agg(count(lit(1)).as("tf"))
  }

  /** BM25 (Robertson/Sparck Jones, k1/b form) top-k documents for a bag of
    * query terms. idf = ln(1 + (N - df + 0.5)/(df + 0.5)); per-term scores
    * quantize to DECIMAL(18,6) (see object doc), sum exactly per document,
    * and the top `k` return by (score DESC, id ASC) — the id tie-break makes
    * the cut deterministic.
    *
    * Output: (id, score).
    */
  /** Corpus vocabulary: every distinct token with its total occurrence
    * count, document frequency, and dense frequency rank (1 = most
    * frequent; ties broken by token ascending so the ranking is total and
    * cross-engine deterministic). The vocab-build step before any
    * tokenizer/embedding training run.
    *
    * One scan + one (token) aggregate; the global rank runs over the
    * vocab-sized aggregate, not the corpus — and NOT through
    * `Window.orderBy()`, which would drag the whole vocabulary (billions
    * of distinct tokens at 100 TB) through one task's sort:
    * [[graft.operators.Ops.globalRowNumber]] range-partitions the
    * aggregate so every partition sorts its own slice in parallel.
    */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("id"), explode(Text.tokens(col(textCol))).as("token"))
    val counts = tok.groupBy("token").agg(
      count(lit(1)).as("n_occurrences"),
      count_distinct(col("id")).as("n_docs"))
    graft.operators.Ops.globalRowNumber(counts,
      Seq(col("n_occurrences").desc, col("token").asc), out = "freq_rank")
  }

  /** Inverted index: token → sorted posting list of containing documents
    * (+ document frequency) — the retrieval-side artifact [[bm25TopK]]
    * queries implicitly; materialized, it serves exact phrase/term lookups
    * without re-scanning the corpus.
    *
    * Scale: one tokenize scan; (token, id) pairs distinct (hash on the
    * pair) and persisted, then document frequencies aggregate per token
    * and prune BEFORE any posting list materializes — `collect_list` on a
    * stop-word's billions of postings would blow the aggregation buffer
    * long before a post-hoc filter could discard it, so the cap must gate
    * the collect, not the output. Surviving tokens (df ≤ maxPostings)
    * broadcast back onto the pair set under AQE; lists are `sort_array`ed
    * (deterministic, engine-comparable) and every emitted list is exact —
    * oversized tokens are pruned whole, never truncated.
    *
    * Caching contract (same as [[graft.functions.Lm]]): the capped path
    * persists the (token, id) pair set so the df-count and the join read
    * one corpus scan; the persist is scoped to the returned plan, so in a
    * long-lived session call `spark.catalog.clearCache()` (or unpersist
    * via `spark.sharedState.cacheManager`) once the index is written out.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    maxPostings: Long = Long.MaxValue): DataFrame = {
    val pairs = docs
      .select(col(idCol).as("id"), explode(Text.tokens(col(textCol))).as("token"))
      .distinct()
    if (maxPostings == Long.MaxValue)
      pairs.groupBy("token")
        .agg(sort_array(collect_list(col("id"))).as("postings"),
          count(lit(1)).as("df"))
    else {
      val p = pairs.trackedPersist()
      val kept = p.groupBy("token").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxPostings)
      p.join(kept, "token")
        .groupBy("token")
        .agg(sort_array(collect_list(col("id"))).as("postings"),
          first(col("df")).as("df"))
    }
  }

  /** Per-document TF-IDF keywords: the `m` tokens with the highest
    * tf · ln(N / df) in each document (ties by token ascending). The
    * keyword-extraction / topic-labeling step of a curation pipeline.
    *
    * Determinism: same device as [[bm25TopK]] — the ln-based score
    * quantizes to DECIMAL(18,6), so the (score DESC, token ASC) order the
    * rank window sees is total and engine-stable.
    *
    * Scale: one tokenize scan; (id, token) counts partial-aggregate
    * map-side; document frequencies aggregate over the (token)-distinct
    * frame and BROADCAST back; the top-m cut is the bounded
    * [[org.apache.spark.sql.graftglue.TopKStruct]] heap aggregate, so at
    * most m (token, score) rows per (document, partition) reach its
    * exchange and nothing ever sorts — the rank window this replaced
    * sorted every scored (id, token) row (the corpus vocabulary-occurrence
    * set) map-side before its bounded shuffle, then again after. The heap
    * compares the score as DOUBLE: the DECIMAL(18,6)→double cast is
    * injective and monotone up to |score| < 2^53/10⁶ ≈ 9·10⁹ (tf·ln(N/df)
    * is orders of magnitude below that), so the kept set and tie-breaks
    * are bit-identical to the decimal-ordered window form.
    */
  def tfIdfKeywords(docs: DataFrame, idCol: String, textCol: String,
                    m: Int): DataFrame = {
    require(m > 0, s"m must be positive, got $m")
    import org.apache.spark.sql.graftglue.{ColumnBridge, TopKStruct}
    val tok = docs.select(col(idCol).as("id"), explode(Text.tokens(col(textCol))).as("token"))
    // persisted: the document-frequency branch derives from tf, and without
    // the persist Catalyst re-runs the corpus tokenize+aggregate for it
    // (two scans of the corpus at scale)
    val tf = tok.groupBy("id", "token").agg(count(lit(1)).as("tf"))
      .trackedPersist()
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(broadcast(dfreq), "token").crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * log(col("n").cast(DoubleType) / col("df").cast(DoubleType)))
          .cast(DecimalType(18, 6)))
    val top = ColumnBridge.column(TopKStruct(
      ColumnBridge.expression(col("score").cast(DoubleType)),
      ColumnBridge.expression(col("token")), m).toAggregateExpression())
    scored.groupBy("id").agg(top.as("__ks"))
      .select(col("id"), posexplode(col("__ks")).as(Seq("__p", "__kv")))
      .select(col("id"), col("__kv.neighbor").as("token"),
        col("__kv.score").as("score"), (col("__p") + 1).cast(LongType).as("rnk"))
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009) —
    * the standard way to combine a lexical ranking ([[bm25TopK]]) with a
    * dense one ([[Ann]]/[[Pq]]/[[Sq]]) into ONE hybrid retrieval list
    * without calibrating incomparable scores: each list contributes
    * `1 / (k0 + rank)` per candidate and the fused order is the sum.
    * Rank-based, so it composes ANY retrievers — lexical+dense, or two
    * approximate ANN families voting (SQ ⊕ PQ) — and k0 = 60 (the paper's
    * constant) damps the head so one list's top hit can't dominate.
    *
    * Inputs: each list carries (`queryCol`, `idCol`, `rankCol`) with rank
    * 1-based — i.e. already-cut top-k lists, NOT corpus-sized rankings.
    * Output: (queryCol, idCol, rrf_ppm, rank) — the fused top `topK` per
    * query.
    *
    * Determinism: contributions are `1_000_000 div (k0 + rank)` in BIGINT
    * (parts-per-million, exact integer division — no float sum ordering,
    * DuckDB replays with `//`), summed per (query, candidate); final order
    * (rrf_ppm DESC, id ASC) is total.
    *
    * Scale: every input is a top-k list, so the union is |Q|·Σk rows —
    * bounded by the retrievers, never by the corpus. One partial-agg
    * shuffle on (query, id); the final cut is a rank window over ≤ Σk
    * candidates per query partition. Nothing corpus-sized moves here; the
    * expensive work already happened inside the retrievers.
    */
  def rrfFuse(lists: Seq[DataFrame], queryCol: String, idCol: String,
              rankCol: String, topK: Int, k0: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(topK > 0, s"topK must be positive, got $topK")
    require(k0 >= 0, s"k0 must be non-negative, got $k0")
    // each list contributes AT MOST ONCE per (query, id): a duplicate row
    // inside one input list (e.g. a retriever that emits a candidate under
    // two ranks) keeps only its best rank — max contribution — instead of
    // double-counting into the fused sum. The per-list max rides the same
    // partial-agg shuffle shape as the fusion sum (top-k-sized inputs), so
    // the guard costs one map-side combine per list, never a corpus scan.
    val contribs = lists.map(_.select(
        col(queryCol).as("__q"), col(idCol).as("__id"),
        expr(s"1000000L div (${k0}L + CAST(`$rankCol` AS BIGINT))").as("__c"))
      .groupBy("__q", "__id").agg(max(col("__c")).as("__c")))
    val fused = contribs.reduce(_.unionByName(_))
      .groupBy("__q", "__id").agg(sum(col("__c")).as("rrf_ppm"))
    import org.apache.spark.sql.expressions.Window
    fused
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("__q"))
          .orderBy(col("rrf_ppm").desc, col("__id").asc)).cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("__q").as(queryCol), col("__id").as(idCol),
        col("rrf_ppm"), col("rank"))
  }

  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__tk"))
    val stats = termStats(docs, idCol, textCol, queryTerms)
    val corp = toks.agg(count(lit(1)).as("n"),
      sum(size(col("__tk")).cast(LongType)).as("sumdl"))
    bm25Tail(stats, corp, k, k1, b)
  }

  /** The BM25 scoring tail over a postings-shaped frame (id, dl, term, tf)
    * + a 1-row corpus-stats frame (n, sumdl) — ONE definition shared by
    * [[bm25TopK]] (postings computed from the corpus scan) and
    * [[bm25FromIndex]] (postings read from the stored index), so the two
    * paths are bit-identical by construction and share one oracle.
    * Expression shapes mirror the SQL oracle operator-for-operator: every
    * double op is IEEE-correctly-rounded, so identical operand order =
    * identical bits (ln excepted — handled by the decimal quantization).
    */
  private def bm25Tail(posts: DataFrame, corp: DataFrame, k: Int,
                       k1: Double, b: Double): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val dfreq = posts.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = posts.join(broadcast(dfreq), "term").crossJoin(broadcast(corp))
      .withColumn("__s", bm25ScoreCol(k1, b))
    scored.groupBy("id").agg(sum(col("__s")).as("__sdec"))
      .select(col("id"), col("__sdec").cast(DoubleType).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** The per-posting quantized BM25 score over columns (tf, dl, df, n,
    * sumdl) — the ONE arithmetic definition behind [[bm25Tail]] AND
    * [[bm25ManyFromIndex]]: a tweak to operand order or the quantization
    * here changes every path together, so the spec-pinned per-query
    * bit-identity between the single- and multi-query probes cannot
    * silently fork.
    */
  private def bm25ScoreCol(k1: Double, b: Double): Column = {
    val idf =
      log(lit(1) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfc = (col("tf") * (lit(k1) + lit(1))) /
      (col("tf") + lit(k1) *
        (lit(1) - lit(b) + lit(b) * (col("dl") / (col("sumdl") / col("n")))))
    (idf * tfc).cast(DecimalType(18, 6))
  }

  /** A term's storage bucket: the 60-bit md5 prefix mod `buckets` —
    * engine-portable (the [[Ann.md5Prefix60]] recipe), computable
    * DRIVER-side for probe routing and as a codegen column at build time.
    */
  private def termBucket(term: Column, buckets: Int): Column =
    pmod(conv(substring(md5(term), 1, 15), 16, 10).cast(LongType),
      lit(buckets.toLong))

  /** Persistent lexical (BM25) index — the FIFTH stored-index family
    * (G40 LSH keys, G44 winnow prints, G47 IVFPQ codes, G52 SQ codes, now
    * postings): query a 100 TB corpus's keyword surface WITHOUT
    * re-scanning it. Layout under `dir`:
    *
    *   - `postings/` — (id, dl, term, tf) parquet PARTITIONED BY
    *     `bucket` = [[termBucket]](term), so a probe's term routing
    *     becomes directory-level partition pruning: the scan lists
    *     ~|queryTerms|/buckets of the posting files before reading a row;
    *   - `doclens/` — (id, dl) for EVERY doc (including term-less empty
    *     docs, which have no postings but count in the corpus stats);
    *   - `stats/` — one row (n, sumdl, buckets): the corpus-level BM25
    *     inputs plus the layout's bucket count, so probes are
    *     self-describing.
    *
    * Build cost: one corpus tokenize scan; the postings aggregate shuffles
    * (id, term) pairs — fixed-width rows, never the text.
    */
  def writeLexIndex(docs: DataFrame, idCol: String, textCol: String,
                    dir: String, buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = docs.sparkSession
    val toks = docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__tk"))
    // stats ride the doclens WRITE as observed metrics (r17, guide §1):
    // same values as the old written-doclens re-read (count + sum over
    // exactly the rows written), zero extra jobs — the re-read paid three
    // jobs (AQE stage + final + head) per index build
    val obs = new org.apache.spark.sql.Observation()
    graft.Jobs.labeled(spark, "lexindex: doclens write") {
      toks.select(col("id"), size(col("__tk")).cast(LongType).as("dl"))
        .observe(obs, count(lit(1)).as("n"),
          coalesce(sum(col("dl")), lit(0L)).as("sumdl"))
        .write.mode("overwrite").parquet(s"$dir/doclens")
    }
    graft.Jobs.labeled(spark, "lexindex: postings write") {
      // per-document native term counting (graftglue.TermCounts) replaces
      // the explode → groupBy(id, dl, term) count: tf is a function of ONE
      // row's token array, so the groupBy's corpus-sized exchange bought
      // nothing (r17, guide §2.4); rows and values are identical for
      // unique-id corpora — the contract every caller holds
      toks.select(col("id"), size(col("__tk")).cast(LongType).as("dl"),
          explode(org.apache.spark.sql.graftglue.ColumnBridge.column(
            org.apache.spark.sql.graftglue.TermCounts(
              org.apache.spark.sql.graftglue.ColumnBridge.expression(
                col("__tk"))))).as("__tc"))
        .select(col("id"), col("dl"), col("__tc.term").as("term"),
          col("__tc.tf").as("tf"))
        .withColumn("bucket", termBucket(col("term"), buckets))
        // explicit-N repartition on the bucket (REPARTITION_BY_NUM — AQE
        // never coalesces it): without it AQE folds this small shuffle to
        // ONE partition and a single task sorts + writes every bucket
        // directory serially (profiled 0.69 s of a 0.23 s-agg build).
        // Hash-partitioning bucket ids into `buckets` partitions collides
        // (~1/e of tasks land empty), so write parallelism is ~(1-1/e)·N,
        // not exactly one task per bucket — still parallel, and the
        // one-file-per-bucket layout holds regardless. Files scale with
        // `buckets` — the layout's documented parallelism/pruning knob —
        // not with the shuffle width.
        .repartition(buckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
    }
    import spark.implicits._
    val stRow = obs.get
    graft.Jobs.labeled(spark, "lexindex: stats write") {
      Seq((stRow("n").asInstanceOf[Long], stRow("sumdl").asInstanceOf[Long],
          buckets)).toDF("n", "sumdl", "buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    }
    // per-term document frequency, bucket-partitioned like the postings:
    // a probe learns every query term's df from the pruned terms/ buckets
    // BEFORE touching a posting row, so the df-ceiling guard can drop a
    // near-zero-idf stop term without paying its corpus-sized posting
    // list. Derived from the WRITTEN postings (fixed-width rows — no
    // third text scan); vocabulary-sized, not corpus-sized.
    // repartition ON the bucket before the partitioned write: the
    // default layout would fan every shuffle partition across every
    // bucket directory (partitions × buckets tiny files — measured
    // +60% on the stream-probe bench, which builds in-query); this
    // writes one file per bucket per holding task and scales with the
    // vocabulary, not the shuffle width. Explicit N (r17): the bare
    // repartition(col) is REPARTITION_BY_COL, which AQE coalesces to one
    // partition at this size — serializing the write like the postings
    // path above.
    graft.Jobs.labeled(spark, "lexindex: terms write") {
      spark.read.parquet(s"$dir/postings")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .withColumn("bucket", termBucket(col("term"), buckets))
        .repartition(buckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/terms")
    }
  }

  /** How the df-ceiling guard resolves against a stored index generation:
    * the cached stop-term set (the common case), the legacy per-probe
    * terms/ consult (adversarially low ceilings whose stop set is too
    * large to cache), or unguarded (pre-guard layout without a terms/
    * table — warn-and-fallback, not an error: the index was built before
    * the guard existed and probing it at 1000‰ is exactly what it did
    * then; failing at probe time would break every existing index the day
    * the default flipped).
    */
  private sealed trait GuardPlan
  private final case class StopSet(terms: Set[String]) extends GuardPlan
  private case object ConsultPerProbe extends GuardPlan
  private case object Unguarded extends GuardPlan

  /** Stop sets above this size are not cached (or collected): at 990‰ the
    * stop set is a handful of true stop terms, but an adversarially low
    * ceiling (q_bm25 specs probe at 0‰) would make it the whole
    * vocabulary — unbounded driver memory. Such probes keep the legacy
    * distributed per-probe consult.
    */
  private val StopSetCacheCap = 4096

  /** dir → (terms-dir mtime, n, maxDfPermille, stop set). One live entry
    * per index dir: a maintain generation lands via swapWrite, whose
    * rename gives the new terms/ directory a NEW mtime (it is the `.next`
    * dir, created when the delta job wrote it), so the key changes and the
    * stale set is recomputed — maintain-safe by construction. `n` is in
    * the key too: stats/ swaps with the same generation, so a changed
    * corpus size invalidates even if mtime granularity (ms) ever aliased.
    */
  private val stopTermCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Int, Set[String])]()

  /** Test hook: the live cache entry for `dir` as (mtime, n, permille,
    * stop set) — lets the invalidation spec pin that a swapWrite actually
    * rotates the generation key rather than inferring it from results.
    */
  private[graft] def stopTermCacheEntry(
      dir: String): Option[(Long, Long, Int, Set[String])] =
    Option(stopTermCache.get(dir))

  /** Dirs already warned about probing unguarded (pre-guard layout) — the
    * warning is per-dir, not per-probe, so a streaming probe loop does not
    * spam it every micro-batch.
    */
  private val warnedPreGuard =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Resolve the guard for one probe. The stop-term SET of a generation
    * (every term whose df exceeds the ceiling) is computed ONCE per
    * (dir, generation, ceiling) and cached — a static index pays the
    * terms/ consult once instead of per micro-batch (q_stream_bm25probe
    * was +30% paying it every batch), and a maintained index invalidates
    * on the swap (see [[stopTermCache]]). The terms/ scan here reads the
    * whole vocabulary-sized table once (column-pruned to term+df) instead
    * of the legacy query-bucket-pruned read; past [[StopSetCacheCap]]
    * survivors it falls back to that legacy consult.
    *
    * Absent terms/ handling distinguishes the swap window (retry, mirror
    * of [[graft.streaming.Streams.readIndex]]) from a genuinely pre-guard
    * layout (WARN once per dir + probe unguarded).
    */
  private def guardPlan(spark: org.apache.spark.sql.SparkSession,
                        dir: String, n: Long, maxDfPermille: Int): GuardPlan = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/terms")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def status(): Option[org.apache.hadoop.fs.FileStatus] =
      try Some(fs.getFileStatus(p)) catch {
        case _: java.io.FileNotFoundException => None
      }
    val st = status().orElse { Thread.sleep(200L); status() }
    st match {
      case None =>
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/terms.next")))
          throw new IllegalStateException(
            s"terms table $dir/terms is missing but terms.next exists: a " +
              "maintenance swap crashed mid-rename — run recoverSwap/" +
              "compactIndex to completion, then retry the probe")
        if (warnedPreGuard.add(dir))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"maxDfPermille=$maxDfPermille requested but $dir has no stored " +
              "terms/ table (pre-guard layout): probing UNGUARDED " +
              "(= maxDfPermille 1000). Rebuild with writeLexIndex or run " +
              "one lexIndexDelta generation to migrate.")
        Unguarded
      case Some(s) =>
        val mtime = s.getModificationTime
        val hit = stopTermCache.get(dir)
        if (hit != null && hit._1 == mtime && hit._2 == n && hit._3 == maxDfPermille)
          StopSet(hit._4)
        else {
          val stop = graft.streaming.Streams
            .readIndex(spark, s"$dir/terms", recursive = false)
            .filter(!dfCeilingOk(n, maxDfPermille))
            .select("term").limit(StopSetCacheCap + 1)
            .collect().map(_.getString(0)).toSet
          if (stop.size > StopSetCacheCap) ConsultPerProbe
          else {
            stopTermCache.put(dir, (mtime, n, maxDfPermille, stop))
            StopSet(stop)
          }
        }
    }
  }

  /** The df-ceiling guard shared by [[bm25FromIndex]] and
    * [[bm25ManyFromIndex]]: a term whose document frequency exceeds
    * `maxDfPermille`/1000 of the corpus is DROPPED before its postings are
    * scanned. BM25's idf makes such a term's contribution ~0 while its
    * posting list is corpus-sized — and in the multi-query probe that
    * list lands in ONE task's per-query window partition (per-key skew) —
    * so production engines skip or impact-order high-df terms. 990‰ is
    * the DEFAULT (r12): the unguarded probe's |Q|·|stop-postings| cost
    * grows with the corpus (measured 14× at the ×100 decade and widening,
    * plans/SCALE.md r11.2) while the guarded cut is semantically free
    * (idf ≈ 0 above 990‰) — a default IS the product at 100× scale.
    * 1000‰ is the explicit opt-out that admits every term without
    * reading `terms/`; a pre-r11 index without that table probes
    * unguarded with a one-time WARN ([[guardPlan]]) — the layout predates
    * the guard, so failing at probe time would break it retroactively.
    * The cut is EXACT and engine-replayable: the oracle applies the same
    * `df · 1000 <= maxDfPermille · n` predicate on its own dfreq CTE.
    */
  private def dfCeilingOk(n: Long, maxDfPermille: Int): Column =
    col("df") * lit(1000L) <= lit(maxDfPermille.toLong) * lit(n)

  /** BM25 over the STORED index: reads only the query terms' bucket
    * partitions (directory pruning — spec pins the `PartitionFilters`
    * shape), computes df from the pruned postings, and runs the SHARED
    * [[bm25Tail]] — bit-identical to [[bm25TopK]] over the same corpus
    * (q_bm25_index shares q_bm25's oracle). Per-query cost is the probed
    * buckets' postings, independent of corpus text size.
    */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    queryTerms: Seq[String], k: Int,
                    k1: Double = 1.2, b: Double = 0.75,
                    maxDfPermille: Int = 990): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(maxDfPermille >= 0 && maxDfPermille <= 1000,
      s"maxDfPermille must be in [0, 1000], got $maxDfPermille")
    val st = graft.streaming.Streams.readIndex(spark, s"$dir/stats", recursive = false).head()
    val (n, sumdl, buckets) =
      (st.getAs[Long]("n"), st.getAs[Long]("sumdl"), st.getAs[Int]("buckets"))
    // df-ceiling guard ([[dfCeilingOk]] via [[guardPlan]]): drop stop
    // terms BEFORE their buckets are listed, so a dropped term's posting
    // partition is never even read. The common path is the cached
    // generation stop set (one terms/ consult per generation, not per
    // probe); adversarially low ceilings keep the legacy pruned consult.
    val terms: Seq[String] =
      if (maxDfPermille >= 1000) queryTerms
      else guardPlan(spark, dir, n, maxDfPermille) match {
        case Unguarded      => queryTerms
        case StopSet(stop)  => queryTerms.filterNot(stop)
        case ConsultPerProbe =>
          val tbks = queryTerms.map(t => Ann.md5Prefix60(t) % buckets).distinct
          graft.streaming.Streams.readIndex(spark, s"$dir/terms", recursive = false)
            .filter(col("bucket").isin(tbks: _*))
            .filter(col("term").isin(queryTerms: _*))
            .filter(dfCeilingOk(n, maxDfPermille))
            .select("term").collect().map(_.getString(0)).toSeq
      }
    val bks = terms.map(t => Ann.md5Prefix60(t) % buckets).distinct
    val posts = graft.streaming.Streams.readIndex(spark, s"$dir/postings", recursive = false)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(terms: _*))
      .select("id", "dl", "term", "tf")
    import spark.implicits._
    val corp = Seq((n, sumdl)).toDF("n", "sumdl")
    bm25Tail(posts, corp, k, k1, b)
  }

  /** MULTI-query BM25 over the stored index: `queries` is a (query_id,
    * term) frame — the batch-retrieval shape (score every training/eval
    * query against the corpus in ONE pass) that per-call [[bm25FromIndex]]
    * can't express. Routing: the DISTINCT buckets of the query terms are a
    * bounded collect (≤ the layout's bucket count, never vocabulary-sized),
    * so partition pruning still happens at file-listing time; the term
    * filter itself is a distributed semi join (query terms never collect).
    * Document frequencies come from the pruned postings — pruning keeps
    * EVERY posting of a surviving term, so df equals the global value.
    * Scoring is the [[bm25Tail]] expression chain per (query, doc); the
    * per-query cut is a rank window over ≤ |postings-of-query-terms| rows.
    * Per-query results are bit-identical to [[bm25FromIndex]] with the
    * same term set (spec-pinned; q_bm25_many oracles three query sets).
    */
  def bm25ManyFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                        queries: DataFrame, queryCol: String, termCol: String,
                        k: Int, k1: Double = 1.2, b: Double = 0.75,
                        maxDfPermille: Int = 990): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxDfPermille >= 0 && maxDfPermille <= 1000,
      s"maxDfPermille must be in [0, 1000], got $maxDfPermille")
    val st = graft.streaming.Streams.readIndex(spark, s"$dir/stats", recursive = false).head()
    val (n, sumdl, buckets) =
      (st.getAs[Long]("n"), st.getAs[Long]("sumdl"), st.getAs[Int]("buckets"))
    val qAll = queries.select(col(queryCol).as("query_id"), col(termCol).as("term"))
      .distinct()
    // df-ceiling guard ([[dfCeilingOk]] via [[guardPlan]]). A stop term
    // here is not just a corpus-sized scan: its postings land in ONE
    // task's per-query window partition below, so dropping it removes the
    // per-key skew too. Common path: the cached generation stop set is a
    // handful of literals, so the cut is a NOT-isin projection on the
    // query frame (q_stream_bm25probe paid a distributed terms/ semi-join
    // every micro-batch for it — +30%); adversarially low ceilings keep
    // that legacy semi-join (query terms never collect there).
    val q =
      if (maxDfPermille >= 1000) qAll
      else guardPlan(spark, dir, n, maxDfPermille) match {
        case Unguarded => qAll
        case StopSet(stop) =>
          if (stop.isEmpty) qAll
          else qAll.filter(!col("term").isin(stop.toSeq: _*))
        case ConsultPerProbe =>
          val tbks = qAll.select(termBucket(col("term"), buckets).as("b"))
            .distinct().collect().map(_.getLong(0)) // bounded: <= buckets
          val survivors = graft.streaming.Streams
            .readIndex(spark, s"$dir/terms", recursive = false)
            .filter(col("bucket").isin(tbks.toSeq: _*))
            .filter(dfCeilingOk(n, maxDfPermille))
            .select("term")
          qAll.join(survivors, Seq("term"), "left_semi")
      }
    val bks = q.select(termBucket(col("term"), buckets).as("b"))
      .distinct().collect().map(_.getLong(0)) // bounded: <= buckets values
    val posts = graft.streaming.Streams.readIndex(spark, s"$dir/postings", recursive = false)
      .filter(col("bucket").isin(bks.toSeq: _*))
      .join(q.select("term").distinct(), Seq("term"), "left_semi")
      .select("id", "dl", "term", "tf")
    val dfreq = posts.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = posts.join(q, "term")
      .join(broadcast(dfreq), "term")
      .withColumn("n", lit(n)).withColumn("sumdl", lit(sumdl))
      .withColumn("__s", bm25ScoreCol(k1, b))
    import org.apache.spark.sql.expressions.Window
    scored.groupBy("query_id", "id").agg(sum(col("__s")).as("__sdec"))
      .select(col("query_id"), col("id"),
        col("__sdec").cast(DoubleType).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("id").asc)).cast(LongType))
      .filter(col("rank") <= k)
  }

  /** Lexical-index maintenance (the G40/G44/G47/G52 lifecycle identity,
    * postings edition): retire `retiredIds`, tokenize ONLY the admitted
    * delta, return the maintained (postings, doclens, stats) — each
    * row-identical to a from-scratch rebuild over the maintained
    * membership (q_bm25_index_delta's oracle re-derives every posting).
    * The retire anti-join scans the stored postings (fixed-width rows,
    * text-free) — a retired doc's postings are spread across term buckets
    * by construction, so the rewrite is index-scan-sized; corpus text is
    * touched only for the delta. `retiredIds` retires STORED rows only;
    * admitted docs always enter — retire + admit in one call replaces a
    * changed document (the [[graft.dedup.Dedup.indexDelta]] snapshotDiff
    * contract). Write each frame back via
    * [[graft.operators.Sinks.swapWrite]] (postings and terms with
    * partitionBy("bucket")) — the atomic-swap writer; an in-place
    * overwrite would delete the postings under the job reading them.
    *
    * WRITE-BACK ORDER MATTERS: the returned frames read the LIVE index
    * lazily — `posts` and `terms` list `$dir/postings` eagerly at first
    * materialization, `doclens` and `stats` list `$dir/doclens` — so a
    * frame must be written BEFORE the directory it reads is swapped out
    * from under it. The safe order is terms, stats, postings, doclens
    * (terms before the postings swap, stats before the doclens swap;
    * postings/doclens last — swapWrite materializes each to `.next`
    * before any rename, so a frame may safely read the directory it is
    * itself replacing). [[writeLexDelta]] performs exactly this sequence;
    * use it unless you have a reason to hand-order. Each directory swap
    * is individually atomic; a crash between swaps leaves dirs from two
    * generations, which the next [[lexIndexDelta]] + [[writeLexDelta]]
    * run re-converges (every artifact re-derives from postings/doclens).
    *
    * Returns (postings, doclens, stats, terms) — `terms` is the
    * maintained per-term df table ([[writeLexIndex]]'s fourth artifact,
    * re-aggregated from the maintained postings: index-scan-sized, no
    * text). An old-layout index without `terms/` migrates on its first
    * delta: the returned frame materializes either way.
    */
  def lexIndexDelta(admitted: DataFrame, idCol: String, textCol: String,
                    dir: String, retiredIds: DataFrame):
      (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val spark = admitted.sparkSession
    // restart step first (before ANY of the four dirs is listed): finish
    // every swap a crashed [[writeLexDelta]] left stranded — a crash
    // between its two renames leaves that dir missing with a marked
    // .next, and a bare readIndex would fail where promotion is the
    // correct move. Safe mid-construction because no input frame exists
    // yet; a no-op in the common case (two exists() probes per dir).
    Seq("terms", "stats", "postings", "doclens").foreach(sub =>
      graft.operators.Sinks.recoverSwap(spark, s"$dir/$sub"))
    val buckets = graft.streaming.Streams.readIndex(spark, s"$dir/stats",
      recursive = false).head().getAs[Int]("buckets")
    // retired ∪ admitted ids (Dedup.replaceIdFrame): admitted documents
    // replace any stored copy — the apply is idempotent, so a maintenance
    // loop replaying its uncommitted micro-batch after a crash (even one
    // whose swaps PARTIALLY landed across the four dirs) converges to the
    // same generation (MaintainCrashSpec pins all three crash windows)
    val retire = graft.dedup.Dedup.replaceIdFrame(retiredIds, admitted, idCol)
    val keptPosts = graft.streaming.Streams.readIndex(spark, s"$dir/postings", recursive = false)
      .join(broadcast(retire), Seq("id"), "left_anti")
      // partition-column inference reads bucket back as INT; the fresh
      // side computes LONG — align before the union
      .select(col("id"), col("dl"), col("term"), col("tf"),
        col("bucket").cast(org.apache.spark.sql.types.LongType).as("bucket"))
    // persisted: posts, doclens, AND stats all derive from this delta
    // tokenize — without the pin a caller materializing all three frames
    // re-tokenizes the admitted text three times (the tfIdfKeywords
    // lesson); delta-sized, dropped by Caching.drain()
    // no retire filter here: retiredIds retires STORED rows only, the
    // admitted delta always enters — retire + admit in one call replaces
    // a changed document (the Dedup.indexDelta snapshotDiff contract)
    val toks = admitted.select(col(idCol).as("id"),
      Text.tokens(col(textCol)).as("__tk"))
      .trackedPersist()
    // zero-exchange per-document tf (TermCounts) — the writeLexIndex
    // postings shape; the delta never shuffles to count itself
    val freshPosts = toks.select(col("id"),
        size(col("__tk")).cast(LongType).as("dl"),
        explode(org.apache.spark.sql.graftglue.ColumnBridge.column(
          org.apache.spark.sql.graftglue.TermCounts(
            org.apache.spark.sql.graftglue.ColumnBridge.expression(
              col("__tk"))))).as("__tc"))
      .select(col("id"), col("dl"), col("__tc.term").as("term"),
        col("__tc.tf").as("tf"))
      .withColumn("bucket", termBucket(col("term"), buckets))
    val posts = keptPosts.unionByName(freshPosts)
    val doclens = graft.streaming.Streams.readIndex(spark, s"$dir/doclens", recursive = false)
      .join(broadcast(retire), Seq("id"), "left_anti")
      .unionByName(toks.select(col("id"), size(col("__tk")).cast(LongType).as("dl")))
    val stats = doclens.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("sumdl"),
      lit(buckets).as("buckets"))
    val terms = posts.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("bucket", termBucket(col("term"), buckets))
    (posts, doclens, stats, terms)
  }

  /** Write a [[lexIndexDelta]] result back over the live index in the
    * SAFE order (see lexIndexDelta's scaladoc): terms and stats first —
    * they lazily read the live postings/doclens directories that the
    * later swaps replace — then postings, then doclens, each through
    * [[graft.operators.Sinks.swapWrite]] (atomic per directory). Writing
    * in the returned-tuple order instead would swap postings out from
    * under the terms frame's eager file listing: the terms write fails
    * and the index is left with new postings beside a stale terms/ table,
    * silently mis-guarding every subsequent df-ceiling probe.
    */
  def writeLexDelta(dir: String, posts: DataFrame, doclens: DataFrame,
                    stats: DataFrame, terms: DataFrame): Unit = {
    import graft.operators.Sinks
    // repartition ON the bucket first — the writeLexIndex layout rule:
    // an unrepartitioned write fans every shuffle partition across every
    // bucket directory (partitions × buckets tiny files). Explicit-N form
    // (REPARTITION_BY_NUM) like writeLexIndex's: the bare
    // repartition(col("bucket")) AQE-coalesced this vocabulary-sized
    // shuffle to ONE partition and a single task wrote every bucket
    // directory serially (r18, guide §2.4). The live stats row still
    // holds the bucket count at this point — nothing has swapped yet.
    val buckets = graft.streaming.Streams.readIndex(terms.sparkSession,
      s"$dir/stats", recursive = false).head().getAs[Int]("buckets")
    Sinks.swapWrite(terms.repartition(buckets, col("bucket")), s"$dir/terms",
      Seq("bucket"))
    Sinks.swapWrite(stats.coalesce(1), s"$dir/stats")
    Sinks.swapWrite(posts, s"$dir/postings", Seq("bucket"))
    Sinks.swapWrite(doclens, s"$dir/doclens")
  }
}
