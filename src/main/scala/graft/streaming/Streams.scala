package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming re-expressions of the reference's streaming surfaces.
  *
  *  - `LocalDirectoryWatchdog` (node.py:1500) → [[watchDirectory]]: the file
  *    stream source IS a directory watchdog, with checkpointed exactly-once
  *    accounting instead of the reference's in-memory seen-set.
  *  - `TimeWindowAccumulator` (node.py:1453) → [[windowedAgg]]: event-time
  *    tumbling/sliding windows + watermark instead of wall-clock timers.
  *  - `StreamingJoin` (node.py:1528) → [[streamJoin]]: the reference buffers
  *    both streams in a `TimedDict` that evicts after `timeout` seconds;
  *    the watermark + time-range join condition is the exact cluster-scale
  *    equivalent (state store evicts rows past the watermark).
  */
object Streams {

  /** Watch a directory as a stream of new-file lines. `maxFilesPerTrigger`
    * is the backpressure knob (reference: bounded queues).
    */
  def watchDirectory(spark: SparkSession, dir: String,
                     format: String = "text",
                     schemaDdl: Option[String] = None,
                     maxFilesPerTrigger: Int = 100): DataFrame = {
    val r = spark.readStream.format(format)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    schemaDdl.fold(r)(d => r.schema(d)).load(dir)
  }

  /** Event-time windowed aggregation with watermark. */
  def windowedAgg(df: DataFrame, tsCol: String, watermark: String,
                  duration: String, keys: Seq[String], aggs: Seq[Column],
                  slide: Option[String] = None): DataFrame = {
    val win = slide.fold(window(col(tsCol), duration))(s => window(col(tsCol), duration, s))
    df.withWatermark(tsCol, watermark)
      .groupBy(win +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Stream-stream windowed join: equal keys + |leftTs - rightTs| bounded by
    * the reference's TimedDict `timeout`. Both sides watermarked so state is
    * bounded.
    */
  def streamJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 leftTsCol: String, rightTsCol: String,
                 watermark: String, timeout: String): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right.withWatermark(rightTsCol, watermark)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    // Per-side references (l(...)/r(...)), not bare col(...): homogeneous
    // streams usually share the timestamp column name, and an unqualified
    // reference would fail analysis as ambiguous.
    val range =
      r(rightTsCol) >= l(leftTsCol) - expr(s"INTERVAL $timeout") &&
      r(rightTsCol) <= l(leftTsCol) + expr(s"INTERVAL $timeout")
    l.join(r, keyCond && range)
  }

  /** Stream-static enrichment: join a stream against a (small) static
    * dimension frame, broadcast so every micro-batch enriches map-side with
    * zero stream-side shuffle — the streaming analogue of the reference's
    * per-message dictionary lookups against loaded tables.
    */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String],
             joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** Sessionization: session window per key — gap-based, the streaming shape
    * of the reference's time-window accumulation with dynamic windows.
    */
  def sessionize(df: DataFrame, tsCol: String, watermark: String,
                 gap: String, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Streaming exact-dedup: drop repeats of `keys` arriving within the
    * watermark horizon (the state store evicts older keys — the bounded-
    * memory streaming analogue of `Dedup.exact`).
    */
  def dedupStream(df: DataFrame, tsCol: String, watermark: String,
                  keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicates(keys :+ tsCol)

  /** Custom keyed state via `mapGroupsWithState` (reference: per-key
    * accumulator nodes holding dict state between messages). Maintains an
    * arbitrary running state S per key with caller-supplied init/update,
    * emitting the updated (key, state) after every micro-batch; idle keys
    * evict after `stateTimeout` of processing time (≙ the reference's
    * TimedDict expiry).
    */
  def runningState[K: Encoder, V: Encoder, S: Encoder](
      ds: Dataset[V], keyOf: V => K, init: S, update: (S, V) => S,
      stateTimeout: Option[String] = None)(
      implicit ksEnc: Encoder[(K, S)]): Dataset[(K, S)] = {
    // NoTimeout unless asked: ProcessingTimeTimeout makes the micro-batch
    // loop schedule continuous (empty) batches just to fire timeouts.
    val mode = stateTimeout.fold(GroupStateTimeout.NoTimeout)(
      _ => GroupStateTimeout.ProcessingTimeTimeout)
    ds.groupByKey(keyOf)
      .mapGroupsWithState[S, (K, S)](mode) {
        (key: K, values: Iterator[V], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            (key, last)
          } else {
            val s = values.foldLeft(state.getOption.getOrElse(init))(update)
            state.update(s)
            stateTimeout.foreach(state.setTimeoutDuration)
            (key, s)
          }
      }
  }

  /** Gap sessionization as keyed custom state (`flatMapGroupsWithState`) —
    * the reference's per-key accumulator-node shape, and the stateful twin
    * of `Ops.sessionize` (identical output contract). Input: (key, ts)
    * pairs; output: (key, session_id, session_start, session_end,
    * n_events), sessions splitting where consecutive sorted timestamps gap
    * by more than `gap`.
    *
    * On a BATCH Dataset each key's events arrive as one group, so the
    * operator is exact and order-independent (timestamps sort in-group).
    * On a stream it emits each batch's closed sessions and carries the
    * trailing open session provisionally; production streams should use
    * [[sessionizeStateStream]], whose event-time timeout emits each session
    * exactly once. Per-group work is an in-memory sort of ONE key's
    * timestamps — heavy keys belong on the window-function form
    * (`Ops.sessionize`), which never materializes a whole key.
    */
  def sessionizeState(events: Dataset[(Long, Long)], gap: Long): Dataset[(Long, Long, Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, values: Iterator[(Long, Long)], state: GroupState[Array[Long]]) =>
          // state = [trailStart, trailEnd, trailN, closedBefore]: the open
          // trailing session and how many sessions closed before it.
          val ts = values.map(_._2).toArray.sorted
          val (seed, closedBefore) = state.getOption match {
            case Some(Array(s0, e0, n0, c)) => (Some((s0, e0, n0)), c)
            case _                          => (None, 0L)
          }
          if (ts.isEmpty && seed.isEmpty) Iterator.empty
          else {
            // split sorted timestamps into runs with intra-run gaps <= gap,
            // seeding from the carried trailing session when present
            val sessions = scala.collection.mutable.Buffer[(Long, Long, Long)]()
            var (start, end, n) = seed.getOrElse((ts(0), ts(0), 0L))
            if (seed.isEmpty) n = 1L
            val rest = if (seed.isEmpty) ts.iterator.drop(1) else ts.iterator
            rest.foreach { t =>
              if (t - end > gap) { sessions += ((start, end, n)); start = t; end = t; n = 1L }
              else { // guards: a late (streaming) event may precede the carried span
                if (t > end) end = t
                if (t < start) start = t
                n += 1L
              }
            }
            sessions += ((start, end, n))
            state.update(Array(start, end, n, closedBefore + sessions.size - 1L))
            sessions.iterator.zipWithIndex.map { case ((s0, e0, n0), i) =>
              (key, closedBefore + i + 1L, s0, e0, n0)
            }
          }
      }
  }

  /** Watermark-correct streaming sessionization: the exactly-once variant
    * of [[sessionizeState]]. Sessions are held in state and emitted ONLY
    * when the event-time watermark passes session_end + gap — the point
    * after which no in-watermark event can extend them — so an append sink
    * sees each session exactly once (no provisional re-emissions). The
    * trailing session of a bounded run stays pending, as unbounded-stream
    * semantics require; drain with a final far-future event or read the
    * batch form for bounded data.
    *
    * Input: any streaming DataFrame with a long key column and a TIMESTAMP
    * column. Output: (key, session_start, session_end, n_events) with
    * start/end in epoch micros (no session ids: global per-key numbering
    * needs an order over session closings that an unbounded stream cannot
    * provide).
    */
  def sessionizeStateStream(events: DataFrame, keyCol: String, tsCol: String,
                            watermark: String, gapUs: Long): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.types.LongType
    // the watermarked TIMESTAMP column must reach the stateful operator
    // unconverted (projecting it away would drop the watermark tag and fail
    // analysis); micros conversion happens inside the lambda instead
    val typed = events.withWatermark(tsCol, watermark)
      .select(col(keyCol).cast(LongType), col(tsCol))
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, values: Iterator[(Long, java.sql.Timestamp)], state: GroupState[Array[Long]]) =>
          // state = flat [start, end, n]* of still-open sessions
          val carried = state.getOption.getOrElse(Array.empty[Long])
            .grouped(3).collect { case Array(s0, e0, n0) => (s0, e0, n0) }.toSeq
          // merge carried spans + new events (as 1-event runs) sorted by
          // start; adjacent runs closer than gap coalesce
          def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
          val runs = (carried ++ values.map { case (_, t) => (us(t), us(t), 1L) })
            .sortBy(r => (r._1, r._2))
          val merged = runs.foldLeft(List.empty[(Long, Long, Long)]) {
            case ((cs, ce, cn) :: rest, (s0, e0, n0)) if s0 - ce <= gapUs =>
              (cs, math.max(ce, e0), cn + n0) :: rest
            case (acc, r) => r :: acc
          }.reverse
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) = merged.partition { case (_, e0, _) => e0 + gapUs < wmUs }
          if (open.isEmpty) state.remove()
          else {
            state.update(open.flatMap { case (s0, e0, n0) => Seq(s0, e0, n0) }.toArray)
            // wake when the earliest open session becomes unextendable
            state.setTimeoutTimestamp(open.map(_._2).min / 1000L + gapUs / 1000L + 1L)
          }
          closed.iterator.map { case (s0, e0, n0) => (key, s0, e0, n0) }
      }.toDF(keyCol, "session_start", "session_end", "n_events")
  }

  /** Streaming exact keep-best dedup — the stateful twin of
    * [[graft.dedup.Dedup.exactKeepBest]] (keep the highest-scoring copy
    * per key, ties by id). State per key: (best_score, best_id,
    * copies_seen); every micro-batch that touches a key emits its updated
    * (key, keep_id, keep_score, n_copies) — a CHANGELOG under an append
    * sink. `n_copies` strictly increases per emission, so the final
    * answer is the max-`n_copies` row per key (compact after draining
    * with `groupBy(key).agg(max(struct(n_copies, …)))`, or upsert from
    * foreachBatch). The final state is batch-split independent: max and
    * count are associative and commutative. Input: (key, id, score);
    * null scores must be filtered upstream (a null has no rank).
    */
  def keepBestStream(rows: Dataset[(String, Long, Double)])
      : Dataset[(String, Long, Double, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .mapGroupsWithState[(Double, Long, Long), (String, Long, Double, Long)](
        GroupStateTimeout.NoTimeout) {
        (key: String, values: Iterator[(String, Long, Double)],
         state: GroupState[(Double, Long, Long)]) =>
          var (bestScore, bestId, n) =
            state.getOption.getOrElse((Double.NegativeInfinity, Long.MinValue, 0L))
          values.foreach { case (_, id, score) =>
            n += 1
            if (score > bestScore || (score == bestScore && id > bestId)) {
              bestScore = score; bestId = id
            }
          }
          state.update((bestScore, bestId, n))
          (key, bestId, bestScore, n)
      }
  }

  /** Streaming LSH near-dup — the stateful twin of
    * [[graft.dedup.Dedup.lshPairs]] (the one flagship path that had no
    * incremental form). Minhash signatures and band keys are the SAME
    * zero-shuffle projections as the batch path
    * ([[graft.dedup.Dedup.minhashSignature]] /
    * [[graft.dedup.Dedup.bandedKeys]] — documents hash into identical
    * buckets), so the only stateful piece is the bucket itself: per
    * (band, band_key) the state is `(min_id, n_members)` and every
    * micro-batch touching a bucket emits its updated
    * (band, band_key, min_id, n_members) — a CHANGELOG under an update
    * sink, exactly the [[keepBestStream]] shape. `n_members` strictly
    * increases per emission, so the drained result compacts exactly by
    * max-`n_members` per bucket under ANY batch split (min and count are
    * associative and commutative).
    *
    * Scale: state is O(#buckets) × two longs — constant per bucket, NO
    * member lists, so a degenerate mega-bucket costs the same 16 bytes as
    * a pair (the batch path needs its `maxBucket` guard precisely because
    * it materializes member lists to expand pairs; this path never
    * expands pairs in-stream). Per-document verdicts (canonical id =
    * min over the doc's buckets, duplicate iff canonical < id) come from
    * joining the documents' band keys against the compacted buckets at
    * drain time — see q_stream_neardup. Unique-id PRECONDITION as in
    * [[graft.dedup.Dedup.minhashSignature]]; zero-token docs emit no row.
    *
    * Ids must be an INTEGRAL column (the batch twin takes any id type;
    * here the bucket state and its min-ordering are Longs). Checked at
    * plan time — a silent cast would null string ids and fail mid-stream
    * with an opaque non-nullable-field error. Derive a numeric id
    * upstream (e.g. `xxhash64`) for string-keyed corpora.
    */
  def lshBucketsStream(docs: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 16, bands: Int = 4,
                       rowsPerBand: Int = 4): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val idType = docs.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"lshBucketsStream: id column '$idCol' must be integral (got $idType); " +
        "derive a numeric id upstream (e.g. xxhash64) for string-keyed corpora")
    val sig = graft.dedup.Dedup.minhashSignature(
      docs.select(col(idCol).cast(LongType).as(idCol),
        col(textCol).cast(StringType).as(textCol)),
      idCol, textCol, numHashes)
    val banded = graft.dedup.Dedup.bandedKeys(sig, bands, rowsPerBand)
      .select(col("band"), col("band_key"), col("id"))
      .as[(Int, String, Long)]
    banded.groupByKey { case (b, k, _) => (b, k) }
      .mapGroupsWithState[(Long, Long), (Int, String, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (key: (Int, String), values: Iterator[(Int, String, Long)],
         state: GroupState[(Long, Long)]) =>
          var (minId, n) = state.getOption.getOrElse((Long.MaxValue, 0L))
          values.foreach { case (_, _, id) =>
            n += 1
            if (id < minId) minId = id
          }
          state.update((minId, n))
          (key._1, key._2, minId, n)
      }.toDF("band", "band_key", "min_id", "n_members")
  }

  /** Streaming span-level dedup — the stateful twin of
    * [[graft.dedup.Dedup.spanDedup]]. Chunking is the same stateless
    * projection as the batch path ([[graft.functions.Text.chunk]] — the
    * same non-overlapping token windows hash identically), so the only
    * stateful piece is span OWNERSHIP: per chunk hash the state is
    * `(owner_id, owner_chunk, n_copies)` where the owner is the MINIMUM
    * (id, chunk_id) seen — min, not first-arrival, because min is
    * associative/commutative and therefore batch-split independent (the
    * batch path's min-struct window rule, replayed incrementally; a
    * first-arrival rule would make the answer depend on file order).
    * Every micro-batch touching a hash emits its updated row — a
    * changelog under an update sink; `n_copies` strictly increases per
    * emission, so the drained result compacts exactly by max-`n_copies`
    * per hash (the [[keepBestStream]] / [[lshBucketsStream]] recipe).
    *
    * Scale: state is O(#distinct spans) × three longs — constant per
    * hash, chunk TEXT never enters state (the 32-byte hash is the key).
    * Per-document dup fractions come from joining the documents' chunk
    * hashes against the compacted owners at drain time — q_stream_spandedup
    * oracles the whole loop against the batch spanDedup SQL. Ids must be
    * integral, checked at plan time as in [[lshBucketsStream]].
    */
  def chunkOwnersStream(docs: DataFrame, idCol: String, textCol: String,
                        window: Int = 64): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val idType = docs.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"chunkOwnersStream: id column '$idCol' must be integral (got $idType); " +
        "derive a numeric id upstream (e.g. xxhash64) for string-keyed corpora")
    graft.functions.Text.chunk(
        docs.select(col(idCol).cast(LongType).as(idCol),
          col(textCol).cast(StringType).as(textCol)),
        idCol, textCol, window, window)
      .select(md5(col("chunk_text")).as("h"), col("id"), col("chunk_id"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), (String, Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (h: String, values: Iterator[(String, Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          var (oid, ochunk, n) =
            state.getOption.getOrElse((Long.MaxValue, Long.MaxValue, 0L))
          values.foreach { case (_, id, c) =>
            n += 1
            if (id < oid || (id == oid && c < ochunk)) { oid = id; ochunk = c }
          }
          state.update((oid, ochunk, n))
          (h, oid, ochunk, n)
      }.toDF("h", "owner_id", "owner_chunk", "n_copies")
  }

  /** Streaming substring-ownership — the stateful twin of
    * [[graft.dedup.Dedup.substringDedup]]'s ownership pass. The sliding
    * window-hash projection is the SAME stateless code as the batch path
    * ([[graft.dedup.Dedup.windowHashes]] — streamable: explode + md5, no
    * window functions), so the only stateful piece is per-hash ownership:
    * `(owner_id, owner_start, n_copies)` with the owner the MINIMUM
    * (id, start) seen — min, not first-arrival, so the answer is
    * batch-split independent (the batch min-struct rule replayed
    * incrementally). Changelog semantics mirror [[chunkOwnersStream]]:
    * every touched hash re-emits, `n_copies` strictly increases, so the
    * drained result compacts exactly by max-`n_copies` per hash. The
    * per-doc maximal-span merge is a drain-time batch job
    * ([[graft.dedup.Dedup.mergeSpans]] over the dup windows from a hash
    * join against the compacted owners) — q_stream_substringdedup oracles
    * the whole loop against the batch substringDedup SQL.
    *
    * Scale: state is O(#distinct window hashes) × three longs — at
    * stride 1 that is corpus-token-scale, the streaming rent for
    * shift-robust dedup (the batch path pays the same volume per run as
    * a shuffle instead of holding it as state); window TEXT never enters
    * state (the 32-byte hash is the key).
    */
  def substringOwnersStream(docs: DataFrame, idCol: String, textCol: String,
                            window: Int = 32): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val idType = docs.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"substringOwnersStream: id column '$idCol' must be integral (got $idType); " +
        "derive a numeric id upstream (e.g. xxhash64) for string-keyed corpora")
    graft.dedup.Dedup.windowHashes(
        docs.select(col(idCol).cast(LongType).as(idCol),
          col(textCol).cast(StringType).as(textCol)),
        idCol, textCol, window, stride = 1)
      .select(col("__h").as("h"), col("id"), col("start"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), (String, Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (h: String, values: Iterator[(String, Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          var (oid, ostart, n) =
            state.getOption.getOrElse((Long.MaxValue, Long.MaxValue, 0L))
          values.foreach { case (_, id, st) =>
            n += 1
            if (id < oid || (id == oid && st < ostart)) { oid = id; ostart = st }
          }
          state.update((oid, ostart, n))
          (h, oid, ostart, n)
      }.toDF("h", "owner_id", "owner_start", "n_copies")
  }

  /** Streaming winnowed-print ownership — the stateful twin of
    * [[graft.dedup.Dedup.winnowedDedup]]'s ownership pass. The per-doc
    * fingerprint selection ([[graft.dedup.Dedup.winnowedPrints]] — k-gram
    * hashing + rightmost-min window selection) is all zero-shuffle HOF
    * projection, hence streamable unchanged; the only stateful piece is
    * per-PRINT ownership `(owner_id, owner_pos, n_copies)` under the
    * min-(id, pos) rule — min and count commute, so the answer is
    * batch-split independent (the [[substringOwnersStream]] argument).
    * Changelog semantics as the rest of the family: every touched print
    * re-emits, `n_copies` strictly increases, drained result compacts by
    * max-`n_copies` per print.
    *
    * Scale: state is O(#distinct prints) × three longs, and the print
    * key itself is 8 bytes — winnowing's ~2/(w+1) thinning applies to
    * the STATE STORE too, the whole point of running the guaranteed-
    * detection form instead of stride-1 substring ownership online
    * (state at 2/(w+1) of corpus-gram scale instead of full gram scale).
    * Per-doc dup fractions come from joining the docs' prints against
    * the compacted owners at drain time — q_stream_winnow oracles the
    * loop against the batch winnowedDedup SQL.
    */
  def winnowOwnersStream(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val idType = docs.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"winnowOwnersStream: id column '$idCol' must be integral (got $idType); " +
        "derive a numeric id upstream (e.g. xxhash64) for string-keyed corpora")
    graft.dedup.Dedup.winnowedPrints(
        docs.select(col(idCol).cast(LongType).as(idCol),
          col(textCol).cast(StringType).as(textCol)),
        idCol, textCol, k, w)
      .select(col("print"), col("id"), col("pos"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        (print: Long, values: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          var (oid, opos, n) =
            state.getOption.getOrElse((Long.MaxValue, Long.MaxValue, 0L))
          values.foreach { case (_, id, p) =>
            n += 1
            if (id < oid || (id == oid && p < opos)) { oid = id; opos = p }
          }
          state.update((oid, opos, n))
          (print, oid, opos, n)
      }.toDF("print", "owner_id", "owner_pos", "n_copies")
  }

  /** Exact per-document n-gram repetition stats on a stream — the
    * streaming twin of [[graft.functions.Text.repetitionStats]] (same
    * output row per document). The batch form chains two aggregations,
    * which an unbounded append-mode stream cannot run; here each
    * document's multiset of word n-grams is counted in ONE in-memory pass
    * inside `flatMapGroupsWithState` and the stats emit as the document
    * arrives. State is dropped immediately (a document is one row — the
    * group exists only to reach the arbitrary-computation hook), so the
    * store never grows. Documents with fewer than n tokens emit nothing,
    * like the batch form. Ids must be unique across the stream — a doc id
    * re-arriving in a LATER batch would re-compute alone rather than
    * merge (same contract as [[graft.dedup.Dedup.minhashSignature]]).
    *
    * Tokenize/shingle mirror `Text.tokens`/`Text.shinglesOf` exactly
    * (split on single spaces, drop empties, n consecutive tokens joined
    * by one space) so results are bit-identical to the batch operator.
    */
  def repetitionStatsStream(docs: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    docs.select(col(idCol).cast(LongType), col(textCol).cast(StringType))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, Long, Long, Double, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[(Long, String)], state: GroupState[Boolean]) =>
          state.remove()
          val counts = scala.collection.mutable.HashMap.empty[String, Long]
          var total = 0L
          rows.foreach { case (_, text) =>
            val toks = text.split(" ", -1).filter(_.nonEmpty)
            if (toks.length >= n) {
              toks.sliding(n).foreach { w =>
                if (w.length == n) {
                  counts.updateWith(w.mkString(" "))(c => Some(c.getOrElse(0L) + 1L))
                  total += 1L
                }
              }
            }
          }
          if (total == 0L) Iterator.empty
          else {
            val distinct = counts.size.toLong
            val top = counts.valuesIterator.max
            Iterator((id, total, distinct,
              (total - distinct).toDouble / total.toDouble,
              top.toDouble / total.toDouble))
          }
      }.toDF("id", "n_grams", "n_distinct", "dup_frac", "top_frac")
  }

  /** Streaming LSH-index maintenance — the daily-crawl loop CLOSED: drain a
    * document stream and, per micro-batch,
    *
    *  1. collapse within-batch near-dups
    *     ([[graft.dedup.Dedup.keepCanonical]] over the batch — batch-sized,
    *     the documented exact-first composition applies upstream),
    *  2. probe the CURRENT stored index (re-read each batch, so earlier
    *     batches' appends ARE visible — a later copy of an already-admitted
    *     document is rejected),
    *  3. write every batch doc's verdict `(id, admitted)` to
    *     `verdictDir/batch_<id>` (admitted = batch-canonical AND not a dup
    *     of the corpus),
    *  4. APPEND the admitted docs' band keys to `indexDir`.
    *
    * Admission is first-arrival by construction — crawl semantics: the
    * corpus keeps the copy it saw first, later near-copies point at it.
    * The index directory is APPEND-ONLY here (the LSM posture): per-batch
    * appends are delta-sized; RETIREMENT of removed/changed ids is the
    * batch-side [[graft.dedup.Dedup.indexDelta]] compaction, run on the
    * snapshot-diff cadence (daily), never inside the hot micro-batch loop.
    *
    * Layout: `indexDir` is a generation-pointer directory with a delta
    * log — an optional live generation (a bootstrap or [[compactIndex]]
    * output, written by [[graft.operators.Sinks.swapWrite]]) plus one
    * `deltas/batch_<id>` per micro-batch. Readers go through
    * [[readIndex]]; a dir in any other layout (e.g. flat bootstrap files)
    * is refused there.
    *
    * Ordering and replay safety: each append is written with OVERWRITE,
    * and a replayed batch first DELETES its own delta — so a crash
    * anywhere between the append and the checkpoint commit re-runs the
    * batch exactly: no duplicate key rows from a partial append, and no
    * self-collision (without the delete, a replay would probe the
    * crashed attempt's own band keys and flip every verdict to dup). The
    * index is resolved fresh each batch, so earlier batches' appends are
    * visible and the current batch's are not.
    *
    * Scale: per batch the corpus-sized side is the index SCAN (32-byte
    * keys, no text, pruned to band/band_key for the probe join), run ONCE
    * per batch (the admitted-id set is persisted across the two writes);
    * the batch side is delta-sized everywhere. State is the files
    * themselves — no streaming state store at all, so an unbounded crawl
    * holds nothing in executor memory between batches.
    */
  def indexMaintainStream(docs: DataFrame, idCol: String, textCol: String,
                          indexDir: String, verdictDir: String,
                          checkpoint: String, numHashes: Int = 16,
                          bands: Int = 4, rowsPerBand: Int = 4,
                          availableNow: Boolean = true)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val emptySchema = {
      import org.apache.spark.sql.types._
      StructType(Seq(StructField("id", LongType), StructField("band", IntegerType),
        StructField("band_key", StringType)))
    }
    toForeachBatch(docs, checkpoint, availableNow = availableNow) { (batch0, id) =>
      val batch = batch0.persist()
      // existence via the Hadoop FS API, NOT java.io.File — indexDir is
      // HDFS/S3 in production; a driver-local check would always miss and
      // silently admit every batch against an empty index
      val hPath = new org.apache.hadoop.fs.Path(indexDir)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // replay hygiene: if THIS batch already appended (crash between the
      // append and the checkpoint commit), drop its subdir before probing —
      // otherwise the replay probes its own band keys and every verdict
      // flips to dup_of_corpus
      val ownDir = new org.apache.hadoop.fs.Path(
        graft.operators.Sinks.deltaPath(indexDir, id))
      require(!fs.exists(ownDir) || fs.delete(ownDir, true),
        s"indexMaintainStream: delete $ownDir failed")
      // readIndex: bootstrap (no dir yet) yields the empty index
      val index = readIndex(spark, indexDir, emptySchema = Some(emptySchema))
      val probed = graft.dedup.Dedup.incrementalNearDup(
        graft.dedup.Dedup.keepCanonical(batch, idCol, textCol,
          numHashes, bands, rowsPerBand, metricName = s"idx_maintain_b$id"),
        idCol, textCol, index, numHashes, bands, rowsPerBand)
      // delta-sized; persisted so the index scan + probe run ONCE per
      // batch, not once for the verdict write and again for the append
      val admittedIds = probed.filter(!col("dup_of_corpus")).select("id")
        .persist()
      try {
        batch.select(col(idCol).as("id"))
          .join(admittedIds.withColumn("__adm", lit(true)), Seq("id"), "left")
          .select(col("id"), coalesce(col("__adm"), lit(false)).as("admitted"))
          .write.mode("overwrite").parquet(s"$verdictDir/batch_$id")
        val admitted = batch.join(admittedIds,
          batch(idCol) === admittedIds("id"), "left_semi")
        graft.dedup.Dedup.bandKeysOf(admitted, idCol, textCol,
          numHashes, bands, rowsPerBand)
          .write.mode("overwrite").parquet(graft.operators.Sinks.deltaPath(indexDir, id))
      } finally { admittedIds.unpersist(); batch.unpersist() }
    }
  }

  /** Streaming twin of [[graft.similarity.Mine.marginMine]] (G45 — the
    * last r8 family without one): NEW-snapshot embeddings arrive as a
    * stream and are margin-mined against the STORED corpus `tgt`. The
    * margin ratio needs both directions' k-NN neighborhoods, and the
    * backward one (tgt → src) depends on the WHOLE src set — so a batch
    * cannot emit final pairs. Instead each micro-batch writes two
    * independent, replay-safe per-batch files (the files-as-state posture
    * of [[indexMaintainStream]]):
    *
    *  - `fwd/batch_<id>`: the batch rows' top-k against `tgt` — exact and
    *    final (each src row is in exactly one batch);
    *  - `bwd/batch_<id>`: every `tgt` row's top-k WITHIN the batch —
    *    top-k is a mergeable summary, so the true tgt→src top-k is the
    *    re-ranked k-merge of these per-batch lists, exactly.
    *
    * [[marginMineFinish]] runs after the drain: merge the backward
    * candidates, then the shared [[graft.similarity.Mine.marginFromTopK]]
    * projection — bit-identical to the batch operator under ANY batch
    * split (both directions' neighbor lists are exact, and the margin is
    * a deterministic projection over them), so the stream shares
    * q_margin_mine's oracle.
    *
    * Scale shape: per batch BOTH cross joins broadcast the DELTA (the
    * forward pass broadcasts the batch queries; the backward pass flips
    * the build side with `broadcastCorpus = true` so the corpus streams
    * through untouched) — nothing corpus-sized is ever built or
    * exchanged; per-batch state on disk is ≤ (|batch| + |tgt|)·k rank
    * rows, no text, no vectors. At 100 TB swap the forward scorer for the
    * stored-index ADC probe ([[graft.similarity.Pq.probeIndex]], the
    * q_stream_annprobe path) + exact re-rank, and thin `tgt` to ~k·|batch|
    * candidates per batch the same way.
    */
  def marginMineStream(srcStream: DataFrame, tgt: DataFrame, idCol: String,
                       vecCol: String, k: Int, workDir: String,
                       checkpoint: String, availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.similarity.Ann
    toForeachBatch(srcStream, checkpoint, availableNow = availableNow) { (batch0, id) =>
      val batch = batch0.persist()
      try {
        Ann.bruteForceTopK(batch, tgt, idCol, vecCol, k)
          .write.mode("overwrite").parquet(s"$workDir/fwd/batch_$id")
        Ann.bruteForceTopK(tgt, batch, idCol, vecCol, k, broadcastCorpus = true)
          .write.mode("overwrite").parquet(s"$workDir/bwd/batch_$id")
      } finally { batch.unpersist(); () }
    }
  }

  /** Streaming twin of [[graft.dedup.Dedup.kmvShingleSketch]] (G49): a
    * corpus arriving as a file stream maintains its shingle-universe KMV
    * sketch incrementally. KMV's mergeability does ALL the work — the
    * k smallest distinct hashes of a union are the k smallest of the
    * merged per-part sketches — so each micro-batch writes its OWN
    * sketch row (replay-safe per-batch overwrite, the files-as-state
    * posture) and [[kmvSketchFinish]] re-merges them through the same
    * bounded aggregate at drain. Batch-split independence is structural:
    * the sketch of a set is a pure function of the set, so ANY split
    * drains to the identical row (shared oracle with the batch operator;
    * StreamsSpec pins stream ≡ batch and the overlap statistics computed
    * from a streamed side ≡ the batch ones).
    *
    * Scale: per batch one scan of the batch + a k-sized exchange; on-disk
    * state is one ≤ k-long array per batch (compact the directory by
    * re-sketching if batch count grows unwieldy — the merge IS the
    * compaction).
    */
  def kmvSketchStream(docs: DataFrame, textCol: String, workDir: String,
                      checkpoint: String, ngram: Int = 5,
                      sketchK: Int = 1024, availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery =
    toForeachBatch(docs, checkpoint, availableNow = availableNow) { (batch, id) =>
      graft.dedup.Dedup.kmvShingleSketch(batch, textCol, ngram, sketchK)
        .write.mode("overwrite").parquet(s"$workDir/batch_$id")
    }

  /** Drain-side merge of [[kmvSketchStream]]'s per-batch sketches back to
    * the single corpus sketch row (bit-identical to running
    * [[graft.dedup.Dedup.kmvShingleSketch]] over the whole corpus —
    * mergeability, pinned in spec). `sketchK` must match the stream's.
    */
  def kmvSketchFinish(spark: SparkSession, workDir: String,
                      sketchK: Int): DataFrame = {
    import org.apache.spark.sql.graftglue.{ColumnBridge, KmvSet}
    // a drain that saw no new files commits without writing any batch
    // subdir — the empty sketch row IS the answer there (exactly what
    // kmvShingleSketch returns on an empty corpus), not a glob error
    if (!anyBatchDir(spark, workDir))
      return spark.range(1)
        .select(typedLit(Array.empty[Long]).as("kmv"))
    spark.read.parquet(s"$workDir/batch_*")
      .select(explode(col("kmv")).as("__h"))
      .agg(ColumnBridge.column(KmvSet(
        ColumnBridge.expression(col("__h")), sketchK).toAggregateExpression())
        .as("kmv"))
  }

  /** True when `dir` holds at least one `batch_*` subdirectory — the
    * zero-new-data drain guard shared by the files-as-state finish
    * helpers (a `batch_*` glob read on a batchless dir is an unhelpful
    * AnalysisException).
    */
  private def anyBatchDir(spark: SparkSession, dir: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("batch_"))
  }

  /** The drain-side finish of [[marginMineStream]]: k-merge the per-batch
    * backward candidates back to the true tgt→src top-k (ranks recomputed
    * by the same bounded tail, so ties break identically to the batch
    * operator), then the shared margin projection. `k` and `tau`/`mutual`
    * must match the mine's parameters.
    */
  def marginMineFinish(spark: SparkSession, workDir: String, k: Int,
                       tau: Double, mutual: Boolean = false): DataFrame = {
    import graft.similarity.{Ann, Mine}
    // a drain that saw no new files wrote no batches: nothing to merge,
    // and the empty frame's id types are unknowable here (they follow the
    // stream's id column) — fail with the remediation instead of the
    // glob's bare 'Path does not exist'
    require(anyBatchDir(spark, s"$workDir/fwd"),
      s"marginMineFinish: no fwd/batch_* under $workDir — the drain " +
        "processed no files; skip the finish on zero-new-data runs")
    val fwd = spark.read.parquet(s"$workDir/fwd/batch_*")
    val bwd = Ann.topKTail(
      spark.read.parquet(s"$workDir/bwd/batch_*")
        .select("query_id", "neighbor_id", "cosine"), k)
    Mine.marginFromTopK(fwd, bwd, tau, mutual)
  }

  /** Read a stored index directory: the paths
    * [[graft.operators.Sinks.resolveLive]] names — the live generation of
    * a [[graft.operators.Sinks.swapWrite]] directory, plus the unfolded
    * deltas of an [[indexMaintainStream]] one — read as given, so hive
    * partition columns (`cell=…`, `bucket=…`) are inferred. A pointer dir
    * that was once live always has a live generation (retention keeps
    * it); nothing live means a missing dir, or a first build still being
    * written. Then `emptySchema` (when provided) yields an empty frame,
    * else this throws. Probes ([[graft.dedup.Dedup.incrementalNearDup]] /
    * `winnowProbe` / readers of one artifact such as `idx/codes`) load
    * through this, never through a
    * bare `spark.read.parquet`, which would fold retained generations
    * together. A non-empty dir in any other layout is refused.
    * `recursive` is ignored: no lookup recurses.
    */
  def readIndex(spark: SparkSession, indexDir: String,
                emptySchema: Option[org.apache.spark.sql.types.StructType] = None,
                recursive: Boolean = false): DataFrame = {
    val live = graft.operators.Sinks.resolveLive(spark, indexDir).paths
    // emptySchema applies to a live index too: an existing-but-FILELESS
    // delta (batch 0 crashed pre-commit) has nothing to infer from
    val r = emptySchema.fold(spark.read)(spark.read.schema(_))
    if (live.nonEmpty) r.parquet(live: _*)
    else emptySchema.map(sc => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc))
      .getOrElse(throw new IllegalStateException(
        s"index dir $indexDir does not exist or holds no ready generation"))
  }

  /** Compact an [[indexMaintainStream]] index directory: one
    * [[graft.operators.Sinks.swapWrite]] of the distinct live rows (the
    * live generation plus its unfolded deltas), carrying the highest
    * folded batch id as the new generation's watermark. Readers switch at
    * the pointer flip; retention then deletes old generations and the
    * deltas every kept view has folded, under the swapWrite reader SLA —
    * so a probe already scanning keeps its files. A crash anywhere leaves
    * the old view readable (an unready carcass is invisible; a
    * ready-but-unpointed generation holds exactly the rows it folded),
    * and the next compaction converges.
    *
    * Run it BETWEEN drains — after `awaitTermination` RETURNED, one
    * writer at a time: a drain that crashed has an uncommitted last
    * batch, and compacting before the replay would fold that batch's own
    * keys, where the replay's self-append hygiene (which deletes its own
    * delta) can no longer remove them, flipping its verdicts to
    * dup_of_corpus. Restart and finish the drain first, then compact.
    *
    * Why compact at all: every later probe lists ALL deltas — driver
    * work that grows linearly with batch count (plans/SCALE.md). The
    * band/band_key payload is 32-byte keys, so even a corpus-sized
    * rewrite is small next to the corpus itself.
    */
  def compactIndex(spark: SparkSession, indexDir: String): Unit = {
    val live = graft.operators.Sinks.resolveLive(spark, indexDir)
    if (live.paths.nonEmpty)
      graft.operators.Sinks.swapWrite(
        spark.read.parquet(live.paths: _*).distinct(), indexDir,
        watermark = live.watermark)
  }

  /** Run a micro-batch sink function (reference batch markers → foreachBatch
    * boundaries; the batch id IS the marker). `interval` selects the trigger:
    * None = as-fast-as-possible, Some("10 seconds") = processing-time,
    * `availableNow=true` = drain-and-stop (the reference's bounded-run mode).
    */
  def toForeachBatch(df: DataFrame, checkpoint: String,
                     interval: Option[String] = None,
                     availableNow: Boolean = false,
                     outputMode: String = "append")
                    (f: (DataFrame, Long) => Unit) = {
    // every drain through this helper — notably the config-pipeline /
    // RunPipeline surface — carries the heap-state guardrail (r16; a
    // config author wiring `sessionize`/`stream_dedup` over the default
    // provider is warned before the state outgrows the heap)
    ensureStateStoreGuard(df.sparkSession)
    val w = df.writeStream.outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, id: Long) => f(batch, id))
    val triggered =
      if (availableNow) w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      else interval.fold(w)(i => w.trigger(
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(i)))
    triggered.start()
  }

  /** Canary / liveness (reference: monitor thread + canary messages): a
    * StreamingQueryListener that invokes `onProgress` with (queryName,
    * batchId, numInputRows) after every micro-batch. Returns the listener
    * for detaching.
    */
  def progressCanary(spark: SparkSession)
                    (onProgress: (String, Long, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQueryListener = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        onProgress(Option(e.progress.name).getOrElse(e.progress.id.toString),
          e.progress.batchId, e.progress.numInputRows)
    }
    spark.streams.addListener(l)
    l
  }

  /** Operational guardrail for HEAP-resident streaming state (r15 —
    * the r14 crossover measurement, plans/SCALE.md: the default
    * HDFS-backed state-store provider holds every key's state on the
    * executor heap at ~440 B/key ×2 retained version maps, and FAILS
    * OUTRIGHT near heap-scale state where RocksDB completes flat at a
    * bounded block cache). Watches every micro-batch's `stateOperators`
    * and invokes `onWarn(queryName, stateBytes, stateRows,
    * thresholdBytes)` whenever the summed `memoryUsedBytes` crosses the
    * threshold — `thresholdBytes` if given, else `heapFraction` of the
    * EXECUTOR heap: `spark.executor.memory` when the session declares
    * one (the cluster case — the state lives on executors, not the
    * driver), else this JVM's max heap (local mode, where driver ==
    * executor). The per-executor base is conservative: progress reports
    * the SUM across executors, so the warning fires early, never late.
    * The default
    * action logs one WARN per crossing batch naming the RocksDB knob
    * (`GraftSession.useRocksDbStateStore` / SPARK_GRAFT_STATESTORE=
    * rocksdb) and the measured per-key rule. A session on RocksDB skips
    * the check — its memoryUsedBytes is bounded block cache, not heap
    * pressure — and the provider conf is read PER MICRO-BATCH, so a
    * mid-life switch to RocksDB silences the guard without re-attaching
    * (and a switch back re-arms it). Returns the listener for detaching.
    */
  /** session conf overriding the guard's warning threshold in bytes —
    * read per micro-batch by every [[stateStoreGuard]] without an
    * explicit `thresholdBytes`.
    */
  val GuardThresholdConf = "spark.graft.stateStoreGuard.thresholdBytes"

  /** session conf disabling the AUTO-attached guard (default on). */
  val GuardEnabledConf = "spark.graft.stateStoreGuard.enabled"

  // one auto-attached guard per session; the AtomicLong counts warnings
  // (observable — monitors and specs read it via [[guardWarningCount]])
  private val guardRegistry = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.atomic.AtomicLong]())

  /** Attach [[stateStoreGuard]] ONCE per session (idempotent) — called
    * by [[toForeachBatch]], so every stream drained through the config
    * pipeline / RunPipeline surface (the 100 TB operational path) gets
    * the heap-state guardrail without any code: a config author who
    * wires `sessionize` or `stream_dedup` over the default state-store
    * provider is warned before the state outgrows the heap, exactly as
    * a library caller would be. `spark.graft.stateStoreGuard.enabled=
    * false` opts a session out; the threshold honors
    * [[GuardThresholdConf]] per batch.
    */
  def ensureStateStoreGuard(spark: SparkSession): Unit =
    if (spark.conf.get(GuardEnabledConf, "true").toBoolean)
      guardRegistry.synchronized {
        if (!guardRegistry.containsKey(spark)) {
          val n = new java.util.concurrent.atomic.AtomicLong()
          stateStoreGuard(spark,
            onWarn = (name, bytes, rows, lim) => {
              n.incrementAndGet()
              defaultGuardWarn(name, bytes, rows, lim)
            })
          guardRegistry.put(spark, n)
        }
      }

  /** warnings fired by the session's AUTO-attached guard so far (0 when
    * none is attached).
    */
  def guardWarningCount(spark: SparkSession): Long =
    Option(guardRegistry.get(spark)).map(_.get()).getOrElse(0L)

  private def defaultGuardWarn(name: String, bytes: Long, rows: Long,
                               lim: Long): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"streaming query '$name' holds $bytes bytes of state across " +
        s"$rows keys on the EXECUTOR HEAP (default state-store " +
        s"provider), past the $lim-byte guardrail — at the measured " +
        "~440 B/key (plans/SCALE.md r14) this provider fails outright " +
        "near heap-scale state; switch to RocksDB via " +
        "GraftSession.useRocksDbStateStore(spark) or " +
        "SPARK_GRAFT_STATESTORE=rocksdb before the state grows")

  /** `spark.executor.memory` in bytes, with Spark's OWN default unit: a
    * suffixless value means MiB (Spark reads this key via getSizeAsMb).
    * `byteStringAsBytes` would read a cluster's `4096` as 4096 BYTES and
    * arm the guard with a ~1 KB rail that fires on every stateful batch
    * (ADVICE r15).
    */
  private[graft] def executorMemoryBytes(v: String): Long =
    org.apache.spark.network.util.JavaUtils.byteStringAsMb(v) * 1024L * 1024L

  def stateStoreGuard(spark: SparkSession,
                      heapFraction: Double = 0.25,
                      thresholdBytes: Option[Long] = None,
                      onWarn: (String, Long, Long, Long) => Unit = null)
      : org.apache.spark.sql.streaming.StreamingQueryListener = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    require(heapFraction > 0 && heapFraction <= 1,
      s"heapFraction must be in (0, 1], got $heapFraction")
    // provider is read PER BATCH, not frozen at attach: a session that
    // switches to RocksDB after attaching (GraftSession.
    // useRocksDbStateStore mid-life) must stop getting heap-pressure
    // warnings computed from RocksDB's block-cache memoryUsedBytes
    // (ADVICE r15); a conf getOption per micro-batch is free.
    def onRocksDb = spark.conf
      .getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB"))
    val heapBase = spark.conf.getOption("spark.executor.memory")
      .map(executorMemoryBytes)
      .getOrElse(Runtime.getRuntime.maxMemory)
    // the explicit param wins; else the session conf (read PER BATCH so
    // an operator can tighten/relax a running guard, and so the
    // auto-attached guard honors a threshold set after attach); else the
    // heap fraction
    def limit: Long = thresholdBytes
      .orElse(spark.conf.getOption(GuardThresholdConf).map(_.toLong))
      .getOrElse((heapBase * heapFraction).toLong)
    val warn: (String, Long, Long, Long) => Unit =
      if (onWarn != null) onWarn else defaultGuardWarn
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (!onRocksDb) {
          val sos = e.progress.stateOperators
          if (sos != null && sos.nonEmpty) {
            val bytes = sos.map(_.memoryUsedBytes).sum
            val lim = limit
            if (bytes > lim)
              warn(Option(e.progress.name).getOrElse(e.progress.id.toString),
                bytes, sos.map(_.numRowsTotal).sum, lim)
          }
        }
    }
    spark.streams.addListener(l)
    l
  }

  /** In-flight data-quality observation (`Dataset.observe`): aggregate
    * metrics (counts, null counts, sums) computed ON the stream's own
    * rows as they pass — no second scan, no extra shuffle — and surfaced
    * per micro-batch in `QueryProgress.observedMetrics(name)`. The
    * streaming counterpart of [[graft.operators.Ops.qualityChecks]]: the
    * batch gate validates a corpus after the fact; this watches every
    * batch of a live ingest (pair with [[progressCanary]] to alert).
    */
  def observed(df: DataFrame, name: String, metrics: Seq[Column]): DataFrame = {
    require(metrics.nonEmpty, "observe needs at least one metric column")
    df.observe(name, metrics.head, metrics.tail: _*)
  }
}
