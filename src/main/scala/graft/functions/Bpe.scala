package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.{Checkpoints, Jobs}
import graft.Checkpoints.PinSyntax

/** Byte-pair-encoding tokenizer training over a corpus (the
  * tokenizer-prep companion to [[graft.similarity.Search.vocabulary]];
  * reference analog: the corpus-statistics nodes around
  * `node_classes/table_nodes.py:46`, extended to the merge-table training
  * a pretraining pipeline runs before tokenizing 100 TB).
  *
  * Scale shape: the corpus is scanned ONCE to build the distinct-word
  * count table; every training round after that touches only that
  * vocab-sized table (this is how production BPE trainers scale — merge
  * statistics are a function of the weighted vocabulary, not the corpus).
  * A vocab that fits the driver trains there in plain Scala after one
  * collect; a larger one runs each round as one vocab-sized aggregate +
  * a pair-prefix fetch, the merges applied as a `replace` projection
  * ([[train]] has both paths). [[segment]] applies a
  * trained merge list to a corpus as ONE native
  * [[org.apache.spark.sql.graftglue.ChainedReplace]] projection — zero
  * shuffles, and the projection stays inside whole-stage codegen at any
  * merge count (a folded `replace` chain drops out of codegen at a few
  * hundred merges and goes interpreted — measured on q_bpe_segment).
  *
  * Symbol representation: a word's current segmentation is stored as a
  * padded string — ONE space at each end, TWO spaces between symbols
  * (`"low"` → `" l  o  w "`). Merging pair (l, r) is then the literal
  * replacement `" l  r "` → `" lr "`: the pattern consumes one boundary
  * space on each side, so adjacent occurrences keep their own boundary
  * and plain left-to-right non-overlapping `replace` — identical
  * semantics in Java and DuckDB — implements exactly BPE's merge order.
  * No regex, no UDF, and the oracle can replay training round for round.
  *
  * Caveat: symbols are UTF-16 code units on the Spark side and code
  * points in DuckDB — identical for BMP text (all Latin + CJK); feed
  * pre-filtered text if the corpus carries astral-plane glyphs.
  */
object Bpe {

  /** Distinct-word weighted counts: (word, cnt). The one corpus scan. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial segmentation: every word split to single characters in the
    * padded representation (see object doc). One `regexp_replace` — each
    * char becomes " c ", so adjacent chars meet at the double space and the
    * ends carry the single boundary pad ("low" → " l  o  w ") — rather
    * than a split("")+filter HOF: the lambda is CodegenFallback and was
    * the expression keeping the whole segmentation projection OUT of
    * whole-stage codegen. (?s) so a stray control char is still a symbol;
    * astral glyphs: "." takes the code POINT where split("") took UTF-16
    * units — both out of contract per the object doc's BMP caveat.
    */
  private def symbolize(word: Column): Column =
    regexp_replace(word, "(?s)(.)", " $1 ")

  /** Weighted adjacent-pair counts over a (syms, cnt) vocabulary:
    * (left, right, n). Vocab-sized work.
    */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val syms = split(trim(col("syms")), "  ")
    vocab
      .select(col("cnt"), syms.as("__s"))
      .select(col("cnt"), col("__s"), posexplode(slice(col("__s"), lit(1),
        greatest(size(col("__s")) - 1, lit(0)))))
      .select(col("cnt"), col("col").as("left"),
        expr("element_at(__s, pos + 2)").as("right"))
      .groupBy("left", "right").agg(sum(col("cnt")).as("n"))
  }

  /** Train `nMerges` BPE merges on the corpus. Returns the merge table
    * (rank, left, right, merged, n) in training order; ties in pair
    * frequency break by (left, right) ascending in Spark's binary (UTF-8)
    * string order, so training is fully deterministic. If the vocabulary
    * runs out of pairs early the table is short. The returned vocabulary
    * holds the final segmentation.
    *
    * `mergesPerRound` (R) batches the rounds: each round computes pair
    * counts once and applies the top R pairwise SYMBOL-DISJOINT pairs from
    * that one snapshot, selected greedily down the (n DESC, left, right)
    * order — a pair is skipped while a higher-ranked selection of the same
    * round already uses either of its symbols. Disjointness makes the R
    * replaces commute and leaves each selected pair's count unaffected by
    * the others, so the batch is well-defined from one snapshot and an
    * external engine can replay it exactly. R=1 IS classic sequential BPE;
    * R>1 is the batched variant production trainers use. The variants can
    * diverge after the first round (sequential BPE may rank a
    * freshly-created pair above a later-batched one), which is why R is
    * explicit, not a silent default.
    *
    * `maxRounds` bounds the rounds instead of the merge count: with
    * `nMerges >= maxRounds * mergesPerRound` every round wants the full R
    * and takes whatever symbol-disjoint pairs the snapshot offers, so the
    * run's shape is "Q rounds", data-independent — the form an external
    * replay (the q_bpe oracle) can unroll exactly even when early rounds
    * come up short of R (symbol diversity, not the cap, limits a round's
    * take).
    *
    * Two paths, same rows. The vocabulary is built once (its aggregate's
    * shuffle stage) and fetched up to one row past the ceiling; at or under
    * [[DriverVocabCeiling]] distinct words every round runs in plain Scala
    * on the driver ([[trainDriver]]) and the frames come back as local
    * relations — a round costs microseconds, not a Spark job. Above the
    * ceiling the rounds run as Spark jobs over the vocab, pinned from the
    * same build ([[trainSpark]]): one vocab-sized aggregate and one pin
    * per round. That path stays because it is the only one that trains a
    * vocabulary larger than driver memory — the scale the object doc
    * promises. The jobs carry the description "Bpe.train: driver" (the
    * fetch) or "Bpe.train: spark" after the path that ran
    * ([[graft.Checkpoints.onDriverOrPinned]]).
    */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
            mergesPerRound: Int = 1,
            maxRounds: Int = Int.MaxValue): (DataFrame, DataFrame) = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    require(mergesPerRound > 0,
      s"mergesPerRound must be positive, got $mergesPerRound")
    require(maxRounds > 0, s"maxRounds must be positive, got $maxRounds")
    val vocab = initialVocab(docs, textCol)
    Checkpoints.onDriverOrPinned(vocab, DriverVocabCeiling, "Bpe.train")(rows =>
      Some(trainDriver(vocab.sparkSession, rows, vocab.schema, nMerges,
        mergesPerRound, maxRounds)))(
      trainSpark(_, nMerges, mergesPerRound, maxRounds))
  }

  /** Most distinct words [[train]] trains on the driver. */
  private[graft] val DriverVocabCeiling = 65536

  /** (word, cnt, syms): the initial segmentation of the word counts, the
    * state both [[train]] paths start from.
    */
  private[graft] def initialVocab(docs: DataFrame, textCol: String): DataFrame =
    wordCounts(docs, textCol)
      .select(col("word"), col("cnt"), symbolize(col("word")).as("syms"))

  private def mergeTable(spark: SparkSession,
                         merges: Seq[(Long, String, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toDF("rank", "l", "r", "merged", "n")
  }

  /** The symbols of a padded segmentation, as [[pairCounts]] splits them:
    * Spark's `trim` strips spaces (0x20) only, where `String.trim` would
    * also drop a trailing `\t` or control-char symbol.
    */
  private def symbolsOf(syms: String): Array[String] = {
    var b = 0
    var e = syms.length
    while (b < e && syms.charAt(b) == ' ') b += 1
    while (e > b && syms.charAt(e - 1) == ' ') e -= 1
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = syms.indexOf("  ", b)
    while (i >= 0 && i < e) { out += syms.substring(b, i); b = i + 2; i = syms.indexOf("  ", b) }
    out += syms.substring(b, e)
    out.toArray
  }

  /** [[train]] in plain Scala over the collected [[initialVocab]] rows
    * (`schema` is that frame's). Each round ranks only the top of the pair
    * table, and rewrites and recounts only the words holding a selected
    * pair.
    */
  private[graft] def trainDriver(spark: SparkSession, rows: Array[Row], schema: StructType,
                                 nMerges: Int, mergesPerRound: Int,
                                 maxRounds: Int): (DataFrame, DataFrame) = {
    val cnt = rows.map(_.getLong(1))
    val syms = rows.map(_.getString(2))
    type Pair = (String, String)
    val counts = scala.collection.mutable.HashMap.empty[Pair, Long]
    // the words holding each pair, so a merge touches only those words
    val holders = scala.collection.mutable.HashMap.empty[Pair, scala.collection.mutable.Set[Int]]
    def count(i: Int, sign: Int): Unit = {
      val sy = symbolsOf(syms(i))
      for (j <- 1 until sy.length) {
        val p = (sy(j - 1), sy(j))
        val n = counts.getOrElse(p, 0L) + sign * cnt(i)
        if (n == 0) { counts.remove(p); holders.remove(p) }
        else {
          counts(p) = n
          if (sign > 0) holders.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += i
        }
      }
    }
    syms.indices.foreach(count(_, 1))
    // Spark orders strings by their UTF-8 bytes
    val utf8 = scala.collection.mutable.HashMap.empty[String, UTF8String]
    def key(s: String) = utf8.getOrElseUpdate(s, UTF8String.fromString(s))
    val order: Ordering[(Pair, Long)] = (a, b) => {
      val c = java.lang.Long.compare(b._2, a._2)
      if (c != 0) c else {
        val l = key(a._1._1).compareTo(key(b._1._1))
        if (l != 0) l else key(a._1._2).compareTo(key(b._1._2))
      }
    }
    /** The first `k` pairs in `order`, without sorting the whole table. */
    def top(k: Int): Seq[(Pair, Long)] = {
      val heap = new java.util.PriorityQueue[(Pair, Long)](k + 1, order.reverse)
      counts.foreach { e =>
        if (heap.size < k) heap.add(e)
        else if (order.lt(e, heap.peek())) { heap.poll(); heap.add(e) }
      }
      heap.asScala.toSeq.sorted(order)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var round = 0
    while (merges.size < nMerges && round < maxRounds && counts.nonEmpty) {
      round += 1
      val want = math.min(mergesPerRound, nMerges - merges.size)
      // greedy down the order; the prefix grows (rare) when overlaps ate it
      var prefix = math.max(64, want * 8)
      var selected = Seq.empty[(Pair, Long)]
      var complete = false
      while (!complete) {
        val ranked = top(prefix)
        val used = scala.collection.mutable.Set.empty[String]
        selected = ranked.iterator.filter { case ((l, r), _) =>
          !used(l) && !used(r) && { used += l; used += r; true }
        }.take(want).toSeq
        complete = selected.size == want || ranked.size < prefix
        prefix *= 4
      }
      selected.foreach { case ((l, r), n) => merges += ((merges.size + 1L, l, r, l + r, n)) }
      val steps = selected.map { case ((l, r), _) => (s" $l  $r ", s" $l$r ") }
      val touched = selected.flatMap(s => holders.getOrElse(s._1, Nil)).distinct
      touched.foreach { i =>
        val s = steps.foldLeft(syms(i)) { case (s, (from, to)) => s.replace(from, to) }
        if (s != syms(i)) { count(i, -1); syms(i) = s; count(i, 1) }
      }
    }
    val vocab = spark.createDataFrame(
      rows.indices.map(i => Row(rows(i).get(0), cnt(i), syms(i))).asJava, schema)
    (mergeTable(spark, merges.toSeq), vocab)
  }

  /** [[train]] as Spark jobs over the pinned [[initialVocab]]: one
    * vocab-sized pair-count collect and one pin per round. Each round's
    * vocab is pinned eagerly, so the round before it (`vocab` included) is
    * released as soon as the new one has materialized; the returned vocab
    * holds the one pin left.
    */
  private[graft] def trainSpark(vocab: DataFrame, nMerges: Int, mergesPerRound: Int,
                                maxRounds: Int): (DataFrame, DataFrame) = {
    val spark = vocab.sparkSession
    import spark.implicits._
    Jobs.labeled(spark, "Bpe.train: spark") {
      var current = vocab
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
      var exhausted = false
      var round = 0
      while (merges.size < nMerges && round < maxRounds && !exhausted) {
        round += 1
        val want = math.min(mergesPerRound, nMerges - merges.size)
        // One vocab-sized job per ROUND: collect a prefix of the sorted pair
        // table and select greedily; the prefix grows (rare) if overlaps ate
        // it before `want` disjoint pairs were found while more rows existed.
        var prefix = math.max(64, want * 8)
        var selected: Seq[(String, String, Long)] = Nil
        var complete = false
        while (!complete) {
          val top = pairCounts(current)
            .orderBy(col("n").desc, col("left"), col("right"))
            .limit(prefix).as[(String, String, Long)].collect()
          val used = scala.collection.mutable.Set.empty[String]
          val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
          val it = top.iterator
          while (sel.size < want && it.hasNext) {
            val (l, r, n) = it.next()
            if (!used(l) && !used(r)) { sel += ((l, r, n)); used += l; used += r }
          }
          if (sel.size == want || top.length < prefix) {
            selected = sel.toSeq
            complete = true
            if (top.isEmpty) exhausted = true
          } else prefix *= 4
        }
        if (selected.nonEmpty) {
          selected.foreach { case (l, r, n) =>
            merges += ((merges.size + 1L, l, r, l + r, n))
          }
          // disjoint ⇒ the replaces commute; applied in selection order to
          // match the rank order segment() replays — as ONE ChainedReplace
          // (segment()'s codegen shape) instead of an R-deep fold
          val next = current.withColumn("syms",
              org.apache.spark.sql.graftglue.ColumnBridge.column(
                org.apache.spark.sql.graftglue.ChainedReplace(
                  org.apache.spark.sql.graftglue.ColumnBridge.expression(col("syms")),
                  selected.map { case (l, r, _) => (s" $l  $r ", s" ${l}${r} ") })))
            .pinned()
          Checkpoints.release(current)
          current = next
        } else exhausted = true
      }
      (mergeTable(spark, merges.toSeq), current)
    }
  }

  /** Apply an ordered merge list to a corpus of documents: each token is
    * segmented by replaying the merges. Pure projection — a chain of
    * literal `replace`s per merge, fully codegen, zero shuffles. Output:
    * input columns + `syms` (array of subword symbols per token) exploded
    * as (id, token, syms, n_syms).
    */
  def segment(docs: DataFrame, idCol: String, textCol: String,
              merges: Seq[(String, String)],
              memoSize: Int = 1 << 15): DataFrame = {
    import org.apache.spark.sql.graftglue.{ChainedReplace, ColumnBridge}
    val tok = docs.select(col(idCol).as("id"),
      explode(Text.tokens(col(textCol))).as("token"))
    // ONE native expression for the whole merge list, not a fold of
    // `replace` — a production merge table is 10⁴-10⁵ steps and the folded
    // tree falls out of whole-stage codegen at a few hundred (the Project
    // loses its codegen star and every token pays interpreted dispatch per
    // merge); same values, ChainedReplace scaladoc has the measurement.
    // memoSize (r15): corpus tokens repeat with Zipf frequency — a
    // distinct symbolized token pays the O(merges × length) replay once
    // per executor thread, every repeat is a thread-local hash hit; at a
    // production merge-table size the per-miss cost grows with the
    // tokenizer while the hit stays O(length)
    val seg = ColumnBridge.column(ChainedReplace(
      ColumnBridge.expression(symbolize(col("token"))),
      merges.map { case (l, r) => (s" $l  $r ", s" ${l}${r} ") },
      memoSize = memoSize))
    tok.withColumn("syms", split(trim(seg), "  "))
      .withColumn("n_syms", size(col("syms")).cast(LongType))
  }
}
