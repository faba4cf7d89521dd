package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Text
import graft.operators.Sinks
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
  *
  * Stored indexes: probes and maintenance of a [[writeLexIndex]] layout
  * share one cached [[LexHandle]] per index dir. It holds what only
  * changes with a new generation (n, sumdl, buckets, the postings schema,
  * the df-ceiling stop set) and is keyed by the live file names and
  * mtimes under stats/, postings/ and terms/, which every write path
  * rotates on every store. A warm probe therefore runs no stats read and
  * no schema inference: 4 Spark jobs where it ran 8. The cache has no
  * option because its key tracks the data itself and its size is one
  * small entry per index dir.
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
    bm25Tail(stats, _.crossJoin(broadcast(corp)), k, k1, b)
  }

  /** The BM25 scoring tail over a postings-shaped frame (id, dl, term, tf)
    * whose rows `withCorp` extends with the corpus stats (n, sumdl) — ONE
    * definition shared by [[bm25TopK]] (postings and a 1-row stats frame
    * computed from the corpus scan) and [[bm25FromIndex]] (postings read
    * from the stored index, stats as literals off its [[LexHandle]]), so
    * the two paths are bit-identical by construction and share one
    * oracle. Expression shapes mirror the SQL oracle operator-for-
    * operator: every double op is IEEE-correctly-rounded, so identical
    * operand order = identical bits (ln excepted — handled by the decimal
    * quantization); a literal n/sumdl folds to the same bits the column
    * form computes.
    */
  private def bm25Tail(posts: DataFrame, withCorp: DataFrame => DataFrame,
                       k: Int, k1: Double, b: Double): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val dfreq = posts.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = withCorp(posts.join(broadcast(dfreq), "term"))
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

  /** A stored generation's corpus stats as literal columns: no 1-row
    * frame to broadcast and cross-join per probe. */
  private def corpLit(n: Long, sumdl: Long)(df: DataFrame): DataFrame =
    df.withColumn("n", lit(n)).withColumn("sumdl", lit(sumdl))

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
    * re-scanning it. `dir` is a [[graft.operators.Sinks.swapGeneration]]
    * pointer directory: `_CURRENT` names `dir/gen-N/`, which holds
    *
    *   - `postings/` — (id, dl, term, tf) parquet PARTITIONED BY
    *     `bucket` = [[termBucket]](term), so a probe's term routing
    *     becomes directory-level partition pruning: the scan lists
    *     ~|queryTerms|/buckets of the posting files before reading a row;
    *   - `doclens/` — (id, dl) for EVERY doc (including term-less empty
    *     docs, which have no postings but count in the corpus stats);
    *   - `stats/` — one row (n, sumdl, buckets): the corpus-level BM25
    *     inputs plus the layout's bucket count, so probes are
    *     self-describing;
    *   - `terms/` — (term, df) partitioned like the postings: the table
    *     [[bm25FromIndex]]'s df-ceiling guard reads.
    *
    * A fresh build lands as `gen-0/`, a rebuild over a live index as its
    * next generation, and maintenance ([[writeLexDelta]]) swaps in later
    * ones the same way: one pointer flip per generation, so a reader sees
    * all four artifacts of one generation, never a mix of two.
    * `Streams.readIndex(s"$dir/postings")` reads one artifact of the live
    * generation ([[graft.operators.Sinks.resolveLive]]).
    *
    * Build cost: one corpus tokenize scan; the postings aggregate shuffles
    * (id, term) pairs — fixed-width rows, never the text.
    */
  def writeLexIndex(docs: DataFrame, idCol: String, textCol: String,
                    dir: String, buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = docs.sparkSession
    val toks = docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__tk"))
    Sinks.swapGeneration(spark, dir) { gen =>
      // stats ride the doclens WRITE as observed metrics (r17, guide §1):
      // same values as the old written-doclens re-read (count + sum over
      // exactly the rows written), zero extra jobs — the re-read paid three
      // jobs (AQE stage + final + head) per index build
      val obs = new org.apache.spark.sql.Observation()
      graft.Jobs.labeled(spark, "lexindex: doclens write") {
        toks.select(col("id"), size(col("__tk")).cast(LongType).as("dl"))
          .observe(obs, count(lit(1)).as("n"),
            coalesce(sum(col("dl")), lit(0L)).as("sumdl"))
          .write.parquet(s"$gen/doclens")
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
          .write.partitionBy("bucket").parquet(s"$gen/postings")
      }
      import spark.implicits._
      val stRow = obs.get
      graft.Jobs.labeled(spark, "lexindex: stats write") {
        Seq((stRow("n").asInstanceOf[Long], stRow("sumdl").asInstanceOf[Long], buckets))
          .toDF("n", "sumdl", "buckets").coalesce(1).write.parquet(s"$gen/stats")
      }
      // per-term document frequency, bucket-partitioned like the postings:
      // a probe learns every query term's df from the pruned terms/ buckets
      // BEFORE touching a posting row, so the df-ceiling guard can drop a
      // near-zero-idf stop term without paying its corpus-sized posting
      // list. Derived from the WRITTEN, not yet published, postings
      // (fixed-width rows — no third text scan); vocabulary-sized, not
      // corpus-sized.
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
        spark.read.parquet(s"$gen/postings")
          .groupBy("term").agg(count(lit(1)).as("df"))
          .withColumn("bucket", termBucket(col("term"), buckets))
          .repartition(buckets, col("bucket"))
          .write.partitionBy("bucket").parquet(s"$gen/terms")
      }
    }
  }

  /** How the df-ceiling guard resolves against a stored index generation:
    * the cached stop-term set (the common case), or the legacy per-probe
    * terms/ consult (adversarially low ceilings whose stop set is too
    * large to cache).
    */
  private[graft] sealed trait GuardPlan
  private[graft] final case class StopSet(terms: Set[String]) extends GuardPlan
  private[graft] case object ConsultPerProbe extends GuardPlan

  /** Stop sets above this size are not cached (or collected): at 990‰ the
    * stop set is a handful of true stop terms, but an adversarially low
    * ceiling (q_bm25 specs probe at 0‰) would make it the whole
    * vocabulary — unbounded driver memory. Such probes keep the legacy
    * distributed per-probe consult.
    */
  private val StopSetCacheCap = 4096

  /** The `stats/` row's layout, as [[writeLexIndex]] and [[lexIndexDelta]]
    * write it: read with it, the stats row costs no schema-inference job.
    * Columns resolve by name, so a reordered row reads the same.
    */
  private val StatsSchema = StructType.fromDDL("n BIGINT, sumdl BIGINT, buckets INT")

  /** Everything about one stored lexical-index GENERATION that probes and
    * maintenance would otherwise re-read per call: its path `gen`
    * (`dir/gen-N`, under which every read of the call goes, so one call
    * never mixes two generations), the corpus stats `n` and `sumdl`, the
    * layout's `buckets`, the `postings` schema (reads pass it, so no
    * Parquet schema-inference job runs) and the df-ceiling guard's
    * resolution for the last ceiling probed (`guard`: (permille, plan);
    * the stop-term set is one terms/ scan per generation, not per probe).
    *
    * `token` is the `_CURRENT` content the generation was resolved
    * through ([[graft.operators.Sinks.liveToken]]): `gen-N` plus a nonce
    * fresh per swap, so it rotates on every maintain and rebuild, and a
    * directory deleted and rebuilt at `gen-0` cannot alias its old handle.
    * A call reuses the cached handle while the pointer still reads
    * `token` — one small read on the driver, no listing — and rebuilds it
    * otherwise. A handle resolved without a pointer (the fallback while a
    * swap's pointer update is mid-flight) has no token and is never
    * cached.
    *
    * There is no knob: one handle per index dir, a few longs, one schema
    * and at most [[StopSetCacheCap]] terms.
    */
  private[graft] final case class LexHandle(
      gen: String, token: Option[String], n: Long, sumdl: Long,
      buckets: Int, postings: StructType,
      guard: Option[(Int, GuardPlan)] = None)

  /** dir → its live generation's handle (one entry per index dir). */
  private val lexHandles =
    new java.util.concurrent.ConcurrentHashMap[String, LexHandle]()

  /** Test hook: the live handle for `dir` — lets the invalidation spec
    * pin that every write path rotates the generation token rather than
    * inferring it from results.
    */
  private[graft] def lexHandleEntry(dir: String): Option[LexHandle] =
    Option(lexHandles.get(dir))

  /** The [[LexHandle]] of `dir`'s live generation: the cached one while
    * `_CURRENT` still reads its token, else rebuilt from one stats/ read
    * (a `head` job) and one postings/ schema inference. An index in the
    * older per-artifact layout (a pointer per artifact) is refused.
    */
  private def lexHandle(spark: org.apache.spark.sql.SparkSession,
                        dir: String): LexHandle = {
    val hit = lexHandles.get(dir)
    if (hit != null && hit.token == Sinks.liveToken(spark, dir)) hit
    else {
      val old = new org.apache.hadoop.fs.Path(dir, s"postings/${Sinks.PointerFile}")
      require(!old.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(old),
        s"$dir is a lexical index in the per-artifact layout (a generation " +
          "pointer per artifact); rebuild it through writeLexIndex")
      val live = Sinks.resolveLive(spark, dir)
      val gen = live.paths.headOption.getOrElse(throw new IllegalStateException(
        s"lexical index dir $dir does not exist or holds no ready generation"))
      val st = artifact(spark, gen, "stats", Some(StatsSchema)).head()
      val h = LexHandle(gen, live.token, st.getAs[Long]("n"),
        st.getAs[Long]("sumdl"), st.getAs[Int]("buckets"),
        artifact(spark, gen, "postings").schema)
      if (h.token.nonEmpty) lexHandles.put(dir, h)
      h
    }
  }

  /** Artifact `a` (postings, doclens, stats or terms) of generation
    * `gen`; a known `schema` skips the inference job. */
  private def artifact(spark: org.apache.spark.sql.SparkSession, gen: String,
                       a: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_)).parquet(s"$gen/$a")

  /** The postings of a handle's generation, read with its cached schema
    * (no inference job). */
  private def postingsOf(spark: org.apache.spark.sql.SparkSession,
                         h: LexHandle): DataFrame =
    artifact(spark, h.gen, "postings", Some(h.postings))

  /** Resolve the guard for one probe. The stop-term SET of a generation
    * (every term whose df exceeds the ceiling) is computed ONCE per
    * (generation, ceiling) and kept on the [[LexHandle]] — a static index
    * pays the terms/ consult once instead of per micro-batch
    * (q_stream_bm25probe was +30% paying it every batch), and a
    * maintained index gets a new handle on the swap. The terms/ scan here
    * reads the whole vocabulary-sized table once (column-pruned to
    * term+df) instead of the legacy query-bucket-pruned read; past
    * [[StopSetCacheCap]] survivors the generation keeps that legacy
    * consult.
    */
  private def guardPlan(spark: org.apache.spark.sql.SparkSession,
                        dir: String, h: LexHandle, maxDfPermille: Int): GuardPlan =
    h.guard.collect { case (p, plan) if p == maxDfPermille => plan }.getOrElse {
      val stop = artifact(spark, h.gen, "terms")
        .filter(!dfCeilingOk(h.n, maxDfPermille))
        .select("term").limit(StopSetCacheCap + 1)
        .collect().map(_.getString(0)).toSet
      val plan = if (stop.size > StopSetCacheCap) ConsultPerProbe else StopSet(stop)
      // kept only while `h` is still the cached handle of dir
      lexHandles.replace(dir, h, h.copy(guard = Some(maxDfPermille -> plan)))
      plan
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
    * reading `terms/`.
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
    val h = lexHandle(spark, dir)
    val (n, buckets) = (h.n, h.buckets)
    // df-ceiling guard ([[dfCeilingOk]] via [[guardPlan]]): drop stop
    // terms BEFORE their buckets are listed, so a dropped term's posting
    // partition is never even read. The common path is the cached
    // generation stop set (one terms/ consult per generation, not per
    // probe); adversarially low ceilings keep the legacy pruned consult.
    val terms: Seq[String] =
      if (maxDfPermille >= 1000) queryTerms
      else guardPlan(spark, dir, h, maxDfPermille) match {
        case StopSet(stop)  => queryTerms.filterNot(stop)
        case ConsultPerProbe =>
          val tbks = queryTerms.map(t => Ann.md5Prefix60(t) % buckets).distinct
          artifact(spark, h.gen, "terms")
            .filter(col("bucket").isin(tbks: _*))
            .filter(col("term").isin(queryTerms: _*))
            .filter(dfCeilingOk(n, maxDfPermille))
            .select("term").collect().map(_.getString(0)).toSeq
      }
    val bks = terms.map(t => Ann.md5Prefix60(t) % buckets).distinct
    val posts = postingsOf(spark, h)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(terms: _*))
      .select("id", "dl", "term", "tf")
    bm25Tail(posts, corpLit(n, h.sumdl), k, k1, b)
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
    val h = lexHandle(spark, dir)
    val (n, buckets) = (h.n, h.buckets)
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
      else guardPlan(spark, dir, h, maxDfPermille) match {
        case StopSet(stop) =>
          if (stop.isEmpty) qAll
          else qAll.filter(!col("term").isin(stop.toSeq: _*))
        case ConsultPerProbe =>
          val tbks = qAll.select(termBucket(col("term"), buckets).as("b"))
            .distinct().collect().map(_.getLong(0)) // bounded: <= buckets
          val survivors = artifact(spark, h.gen, "terms")
            .filter(col("bucket").isin(tbks.toSeq: _*))
            .filter(dfCeilingOk(n, maxDfPermille))
            .select("term")
          qAll.join(survivors, Seq("term"), "left_semi")
      }
    val bks = q.select(termBucket(col("term"), buckets).as("b"))
      .distinct().collect().map(_.getLong(0)) // bounded: <= buckets values
    val posts = postingsOf(spark, h)
      .filter(col("bucket").isin(bks.toSeq: _*))
      .join(q.select("term").distinct(), Seq("term"), "left_semi")
      .select("id", "dl", "term", "tf")
    val dfreq = posts.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = corpLit(n, h.sumdl)(posts.join(q, "term")
      .join(broadcast(dfreq), "term"))
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
    * contract).
    *
    * Write the result back with [[writeLexDelta]]: the returned frames
    * lazily read the live generation they were built from, and the swap
    * writes a fresh one beside it, so they keep reading their inputs
    * until the one pointer flip. An in-place overwrite would delete the
    * postings under the job reading them.
    *
    * Returns (postings, doclens, stats, terms) — `terms` is the
    * maintained per-term df table ([[writeLexIndex]]'s fourth artifact,
    * re-aggregated from the maintained postings: index-scan-sized, no
    * text).
    */
  def lexIndexDelta(admitted: DataFrame, idCol: String, textCol: String,
                    dir: String, retiredIds: DataFrame):
      (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val spark = admitted.sparkSession
    val h = lexHandle(spark, dir)
    val buckets = h.buckets
    // retired ∪ admitted ids (Dedup.replaceIdFrame): admitted documents
    // replace any stored copy — the apply is idempotent, so a maintenance
    // loop replaying its uncommitted micro-batch after a crash converges
    // to the same generation (PointerSwapSpec pins the crash windows)
    val retire = graft.dedup.Dedup.replaceIdFrame(retiredIds, admitted, idCol)
    val keptPosts = postingsOf(spark, h)
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
    val doclens = artifact(spark, h.gen, "doclens")
      .join(broadcast(retire), Seq("id"), "left_anti")
      .unionByName(toks.select(col("id"), size(col("__tk")).cast(LongType).as("dl")))
    val stats = doclens.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("sumdl"),
      lit(buckets).as("buckets"))
    val terms = posts.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("bucket", termBucket(col("term"), buckets))
    (posts, doclens, stats, terms)
  }

  /** Write a [[lexIndexDelta]] result back over the live index as ONE
    * new generation: all four artifacts land in a fresh `gen-N`, then
    * `_CURRENT` flips once ([[graft.operators.Sinks.swapGeneration]]), so
    * a probe scores against the old generation or the new one, never a
    * mix of the two.
    */
  def writeLexDelta(dir: String, posts: DataFrame, doclens: DataFrame,
                    stats: DataFrame, terms: DataFrame): Unit = {
    // repartition ON the bucket first — the writeLexIndex layout rule:
    // an unrepartitioned write fans every shuffle partition across every
    // bucket directory (partitions × buckets tiny files). Explicit-N form
    // (REPARTITION_BY_NUM) like writeLexIndex's: the bare
    // repartition(col("bucket")) AQE-coalesced this vocabulary-sized
    // shuffle to ONE partition and a single task wrote every bucket
    // directory serially (r18, guide §2.4). The bucket count comes off
    // the live generation's handle — the one lexIndexDelta just built, so
    // no stats/ read runs here.
    val spark = terms.sparkSession
    val buckets = lexHandle(spark, dir).buckets
    Sinks.swapGeneration(spark, dir) { gen =>
      posts.write.partitionBy("bucket").parquet(s"$gen/postings")
      doclens.write.parquet(s"$gen/doclens")
      stats.coalesce(1).write.parquet(s"$gen/stats")
      terms.repartition(buckets, col("bucket"))
        .write.partitionBy("bucket").parquet(s"$gen/terms")
    }
  }
}
