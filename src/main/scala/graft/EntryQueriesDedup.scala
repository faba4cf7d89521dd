package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Ops, Sinks}
import graft.sources.{Sources, Tables}
import graft.functions.Text
import graft.dedup.Dedup
import graft.similarity.{Ann, Search}
import graft.json.{MtlParser, TreeWalk}
import graft.multimodal.Multimodal
import graft.Caching.TrackedSyntax

/** Deduplication and decontamination families (G1-G5, G17, G20-G21, G26) (SparkEntry registry — see [[EntryFixtures]]). */
object EntryQueriesDedup {
  import EntryFixtures._

  private[graft] val m: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup (G1-G5) ----
    "q_dedup_exact" -> ((s, dir) => Dedup.exact(T(s, dir, "documents"), "doc_id", "text")),
    // keep-best dedup: among normalized duplicates keep the LONGEST copy
    // (ties by highest id) — the curation keep policy, one partial-agg pass
    "q_dedup_best" -> ((s, dir) =>
      Dedup.exactKeepBest(
        T(s, dir, "documents")
          .withColumn("norm", md5(Text.normalize(col("text"))))
          .withColumn("len", length(col("text")).cast(LongType)),
        "doc_id", "norm", "len")),
    // normalize-then-dedup: case/punctuation/whitespace variants collapse
    "q_dedup_norm" -> ((s, dir) =>
      Dedup.exact(
        T(s, dir, "documents").withColumn("norm", Text.normalize(col("text"))),
        "doc_id", "norm")),
    "q_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(T(s, dir, "documents"), "doc_id", "text", k = 3, tau = 0.5)),
    // Datalog-style inference: transitive closure of per-customer
    // "next order" chains → derived happened-before edges
    "q_kb_infer" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val edges = T(s, dir, "orders")
        .withColumn("__nxt", lead(col("o_orderkey"), 1).over(w))
        .filter(col("__nxt").isNotNull)
        .select(col("o_orderkey").cast(StringType).as("src_id"),
          col("__nxt").cast(StringType).as("dst_id"), lit("next").as("rel"))
      MtlParser.inferTransitive(edges, "next", "before")
    }),
    // deterministic integer PageRank over the same next-order edge graph:
    // 3 iterations, all-BIGINT arithmetic (rank div outdeg, 85% damping as
    // (85*cs) div 100) — bit-identical across partitionings and engines
    "q_pagerank" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val edges = T(s, dir, "orders")
        .withColumn("__nxt", lead(col("o_orderkey"), 1).over(w))
        .filter(col("__nxt").isNotNull)
        .select(col("o_orderkey").cast(StringType).as("src_id"),
          col("__nxt").cast(StringType).as("dst_id"))
      graft.graph.Graph.pageRank(edges, iters = 3)
    }),
    // DANGLING-mass redistribution (r12) over the SAME sink-bearing graph
    // (every customer's last order is a sink): each iteration the dangling
    // nodes' summed rank splits evenly into every node's contribution
    // before damping — (85·(cs + D div N)) div 100, exact BIGINT, so the
    // oracle unrolls the same three iterations with the same floor
    // divisions and total mass no longer decays with the sink count
    "q_pagerank_dangling" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val edges = T(s, dir, "orders")
        .withColumn("__nxt", lead(col("o_orderkey"), 1).over(w))
        .filter(col("__nxt").isNotNull)
        .select(col("o_orderkey").cast(StringType).as("src_id"),
          col("__nxt").cast(StringType).as("dst_id"))
      graft.graph.Graph.pageRank(edges, iters = 3, danglingRedistribute = true)
    }),
    // degree table over the customer→part purchase graph
    "q_degrees" -> ((s, dir) => {
      val edges = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast(StringType).as("src_id"),
          col("l_partkey").cast(StringType).as("dst_id"))
      graft.graph.Graph.degrees(edges)
    }),
    // single Datalog rule: skip2(a, c) :- next(a, b), next(b, c)
    "q_kb_rule" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val edges = T(s, dir, "orders")
        .withColumn("__nxt", lead(col("o_orderkey"), 1).over(w))
        .filter(col("__nxt").isNotNull)
        .select(col("o_orderkey").cast(StringType).as("src_id"),
          col("__nxt").cast(StringType).as("dst_id"), lit("next").as("rel"))
      MtlParser.applyRule(edges, "next", "next", "skip2")
    }),
    // per-stratum deterministic sampling: all of zh, 10% of en, half of rest
    "q_stratified" -> ((s, dir) =>
      Ops.stratifiedSample(T(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 100, "zh" -> 1000), defaultPermille = 500)
        .select("doc_id", "lang")),
    // flagship r4 curation pipeline: repetition floor (docs too short to
    // measure count as clean) → mixture rebalance over the CLEANED corpus
    // → reproducible split. One corpus scan feeds the repetition stats;
    // everything after is count-aggregate + filter projections.
    "q_curation_pipeline" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val rep = Text.repetitionStats(docs, "doc_id", "text", n = 2)
        .select(col("id").as("doc_id"), col("dup_frac"))
      val clean = docs.join(rep, Seq("doc_id"), "left")
        .withColumn("dup_frac", coalesce(col("dup_frac"), lit(0.0)))
        .filter(col("dup_frac") <= 0.6)
      val mixed = Ops.resampleMixture(clean, "doc_id", "lang",
        Map("en" -> 50, "zh" -> 30, "es" -> 20))
      Ops.hashSplit(mixed, "doc_id", 90)
        .select("doc_id", "lang", "dup_frac", "split")
    }),
    // mixture resampling: rebalance lang shares to en:zh:es = 50:30:20
    // (zh is the bottleneck → keeps 100%; de/fr unweighted → dropped)
    "q_mixture" -> ((s, dir) =>
      Ops.resampleMixture(T(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 50, "zh" -> 30, "es" -> 20))
        .select("doc_id", "lang")),
    // temperature mixing: group quotas ∝ sqrt(n_lang) (α=0.5, the
    // multilingual low-resource-upweighting rule); kept docs are the first
    // quota in each group's (md5(id), id) permutation
    "q_temperature_sample" -> ((s, dir) =>
      Ops.temperatureSample(T(s, dir, "documents"), "doc_id", "lang",
        total = 300L, alpha = 0.5)),
    // token-budget selection: fill each language's TOKEN target in md5(id)
    // order; budgets are below each group's sf0.01 volume so every group
    // truncates (the crossing doc is the last kept)
    "q_token_budget" -> ((s, dir) =>
      Ops.tokenBudgetSample(T(s, dir, "documents"), "doc_id", "lang", "text",
        Map("en" -> 6000L, "zh" -> 2000L, "es" -> 1500L))),
    // snapshot diff: old = docs minus (id%11=3) with texts perturbed at
    // id%7=0; new = docs minus (id%13=5) → all four statuses appear
    "q_snapshot_diff" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val old = d.filter(col("doc_id") % 11 =!= 3)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val nw = d.filter(col("doc_id") % 13 =!= 5)
      Ops.snapshotDiff(old, nw, "doc_id", "text")
    }),
    // token-distribution drift between the same two snapshots: mean
    // per-token log likelihood ratio of the new crawl under its own unigram
    // LM vs the old one's (empirical KL) — the "did the language move"
    // monitor beside snapshotDiff's "which docs moved"
    "q_distribution_drift" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val old = d.filter(col("doc_id") % 11 =!= 3)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val nw = d.filter(col("doc_id") % 13 =!= 5)
      graft.functions.Lm.distributionDrift(old, nw, "text")
    }),
    // shift-robust exact-substring dedup: sliding 16-token window hashes,
    // earlier (doc, start) owns each hash, overlapping dup windows merge
    // into maximal spans — catches copied runs fixed chunks miss when an
    // insertion shifts them off the chunk grid
    "q_substring_dedup" -> ((s, dir) =>
      Dedup.substringDedup(T(s, dir, "documents"), "doc_id", "text",
          window = 16, stride = 1)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_dup_spans"),
          col("dup_tokens"), col("dup_frac"))),
    // the TRANSFORM twin: tokens inside a maximal dup span removed, the
    // survivors reassembled in token order (the Lee-et-al substring cut)
    "q_substring_dedup_clean" -> ((s, dir) =>
      Dedup.substringDedupClean(T(s, dir, "documents"), "doc_id", "text",
          window = 16)
        .select(col("id").as("doc_id"), col("n_tokens"), col("dup_tokens"),
          col("clean_text"))),
    // STREAMING twin of substring dedup: per-window-hash ownership state
    // (min (id,start) — batch-split independent), drained changelog
    // compacted by max n_copies, maximal spans merged at drain time;
    // must converge on the batch answer exactly (shared oracle)
    "q_stream_substringdedup" -> ((s, dir) => withStreamShuffle(s) {
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val base = java.nio.file.Files.createTempDirectory("graft_stream_ss").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      docs.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(docs.schema.toDDL), maxFilesPerTrigger = 1)
      val owners = graft.streaming.Streams.substringOwnersStream(stream,
        "doc_id", "text", window = 16)
      val q = graft.streaming.Streams.toForeachBatch(owners, ckpt,
        availableNow = true, outputMode = "update") { (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      val finalOwners = s.read.parquet(s"$outDir/batch_*")
        .groupBy("h")
        .agg(max(struct(col("n_copies"), col("owner_id"), col("owner_start")))
          .as("__f"))
        .select(col("h"), col("__f.owner_id").as("owner_id"),
          col("__f.owner_start").as("owner_start"))
      val dups = Dedup.windowHashes(docs, "doc_id", "text", 16, 1)
        .join(finalOwners, col("__h") === col("h"))
        .filter(col("owner_id") =!= col("id") || col("owner_start") =!= col("start"))
        .select(col("id"), col("start"), (col("start") + 16).as("__end"))
      val perDoc = Dedup.mergeSpans(dups).groupBy("id")
        .agg(count(lit(1)).as("n_dup_spans"),
          sum(col("__e") - col("__s")).as("dup_tokens"))
      docs.select(col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(perDoc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
        .withColumn("dup_frac",
          when(col("n_tokens") > 0,
            col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
            .otherwise(lit(0.0)))
    }),
    // STREAMING twin of winnowed dedup: per-print ownership state
    // (min (id,pos) — batch-split independent) over the same zero-shuffle
    // print projection; drained changelog compacted by max n_copies,
    // per-doc rollup at drain time — must equal the batch answer exactly
    // (shared oracle)
    "q_stream_winnow" -> ((s, dir) => withStreamShuffle(s) {
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val base = java.nio.file.Files.createTempDirectory("graft_stream_wn").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      docs.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(docs.schema.toDDL), maxFilesPerTrigger = 1)
      val owners = graft.streaming.Streams.winnowOwnersStream(stream,
        "doc_id", "text", k = 8, w = 4)
      val q = graft.streaming.Streams.toForeachBatch(owners, ckpt,
        availableNow = true, outputMode = "update") { (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      val finalOwners = s.read.parquet(s"$outDir/batch_*")
        .groupBy("print")
        .agg(max(struct(col("n_copies"), col("owner_id"), col("owner_pos")))
          .as("__f"))
        .select(col("print"), col("__f.owner_id").as("owner_id"),
          col("__f.owner_pos").as("owner_pos"))
      val perDoc = Dedup.winnowedPrints(docs, "doc_id", "text", k = 8, w = 4)
        .join(finalOwners, Seq("print"))
        .select(col("id"),
          (col("owner_id") =!= col("id") || col("owner_pos") =!= col("pos"))
            .as("__dup"))
        .groupBy("id").agg(
          count(lit(1)).as("n_prints"),
          sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_prints"))
      docs.select(col("doc_id"))
        .join(perDoc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_prints"), lit(0L)).as("n_prints"),
          coalesce(col("n_dup_prints"), lit(0L)).as("n_dup_prints"))
        .withColumn("dup_frac",
          when(col("n_prints") > 0,
            col("n_dup_prints").cast("double") / col("n_prints").cast("double"))
            .otherwise(lit(0.0)))
    }),
    // winnowing fingerprints (MOSS): rightmost-min of each w-hash window
    // over k-gram hashes — ~2/(w+1) density with a REAL detection
    // guarantee (runs >= w+k-1 tokens always share a print), the
    // principled thinning stride sampling lacks
    "q_winnow" -> ((s, dir) =>
      Dedup.winnowedDedup(T(s, dir, "documents"), "doc_id", "text",
          k = 8, w = 4)
        .select(col("id").as("doc_id"), col("n_prints"), col("n_dup_prints"),
          col("dup_frac"))),
    // heavy hitters over the corpus token stream: freqItems sketch
    // candidates + one exact verify pass — equals the full GROUP BY answer
    // while only candidate values ever enter an exchange
    "q_heavy_hitters" -> ((s, dir) => {
      val toks = T(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok"))
      Ops.heavyHitters(toks, "tok", supportPermille = 33)
    }),
    // STREAMING heavy hitters: Spark's own update-mode streaming aggregate
    // maintains the per-value running count (state = one long per distinct
    // value — smaller than any ownership twin's state); the changelog's
    // cnt strictly increases, so the drain compacts by max-cnt, derives
    // the total from the compacted counts, and applies the support
    // threshold — count is batch-split independent, so the answer equals
    // the batch q_heavy_hitters exactly (shared oracle)
    "q_stream_heavyhitters" -> ((s, dir) => withStreamShuffle(s) {
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val base = java.nio.file.Files.createTempDirectory("graft_stream_hh").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      docs.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(docs.schema.toDDL), maxFilesPerTrigger = 1)
      val counts = stream
        .select(explode(Text.tokens(col("text"))).as("value"))
        .groupBy("value").agg(count(lit(1)).as("cnt"))
      val q = graft.streaming.Streams.toForeachBatch(counts, ckpt,
        availableNow = true, outputMode = "update") { (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      val finalCounts = s.read.parquet(s"$outDir/batch_*")
        .groupBy("value").agg(max(col("cnt")).as("cnt"))
      val total = finalCounts.agg(sum(col("cnt")).as("n"))
      finalCounts.crossJoin(total)
        .filter(col("cnt") * 1000 > col("n") * 33)
        .select(col("value"), col("cnt"))
    }),
    // KMV distinct sketch: k smallest md5 hashes per group (deterministic,
    // unlike HLL — the oracle reproduces the estimate bit-for-bit)
    "q_kmv" -> ((s, dir) =>
      Ops.approxDistinctKmv(T(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_partkey", k = 64)),
    // PII redaction over synthetic contact strings built from customer
    "q_redact" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val contact = concat(
        col("c_name"), lit(" email "),
        lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", ".")),
        lit("@mail.example.com phone 415-555-"),
        lpad((col("c_custkey") % 10000).cast(StringType), 4, "0"),
        lit(" ssn "),
        lpad((col("c_custkey") % 1000).cast(StringType), 3, "0"), lit("-"),
        lpad((col("c_custkey") % 100).cast(StringType), 2, "0"), lit("-"),
        lpad((col("c_custkey") % 10000).cast(StringType), 4, "0"),
        lit(" ip "), (col("c_custkey") % 256).cast(StringType), lit(".10.0.1"))
      c.select(col("c_custkey"), Text.redactPii(contact).as("redacted"))
    }),
    // G54: Unicode NFC normalization — decomposed a + COMBINING ACUTE
    // (U+0301) synthesized from the corpus text recomposes to á (U+00E1);
    // rows without an 'a' pass through the allocation-free already-normal
    // fast path. DuckDB's nfc_normalize is the bit-exact oracle.
    "q_nfc_normalize" -> ((s, dir) => {
      val deco = regexp_replace(col("text"), "a", "a\u0301")
      T(s, dir, "documents").select(col("doc_id"),
        Text.normalizeUnicode(deco).as("nfc_text"),
        when(Text.normalizeUnicode(deco) === deco, lit(0L)).otherwise(lit(1L))
          .as("changed"))
    }),
    // G54: encoding-quality stats over text salted with exactly the
    // mojibake the filter exists to catch — U+FFFD transcode tombstones,
    // C0 controls, non-ASCII, and a decomposed e + U+0301 sequence
    "q_encoding_stats" -> ((s, dir) => {
      val noisy = concat(col("text"),
        lit("\uFFFD\uFFFD").substr(lit(1), (col("doc_id") % 3).cast(IntegerType)),
        when(col("doc_id") % 5 === 0, lit(" \u0001\u0002 caf\u00e9"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" e\u0301")).otherwise(lit("")))
      T(s, dir, "documents").select(col("doc_id") +: Text.encodingStats(noisy): _*)
    }),
    // G54: script-mix stats over text salted with short non-Latin runs
    // (the corpus itself is ASCII); every 11th doc gets a CJK block long
    // enough to flip main_script — the "CJK in my English crawl"
    // contamination case the signal exists for
    "q_script_stats" -> ((s, dir) => {
      val salted = concat(col("text") +: scriptSalts.map { case (m, frag, times) =>
        when(col("doc_id") % m === 0, lit(" " + frag * times)).otherwise(lit(""))
      }: _*)
      T(s, dir, "documents").select(col("doc_id") +: Text.scriptStats(salted): _*)
    }),
    // G57: C4 line-quality cleaning over synthesized multi-line docs —
    // each doc becomes five lines exercising each rule (kept; <3 words;
    // banned "javascript"; kept with '?'; no terminal punct), and every
    // 13th doc gains the doc-level lorem-ipsum/brace markers and drops
    // whole. Native single-loop projection; the oracle replays the rules
    // as a DuckDB list_filter lambda.
    "q_c4_clean" -> ((s, dir) => {
      val tk = Text.tokens(col("text"))
      val lines = concat_ws("\n",
        concat(array_join(slice(tk, 1, 8), " "), lit(".")),
        lit("ok"),
        lit("Please enable JavaScript to continue."),
        concat(array_join(slice(tk, 9, 12), " "), lit(" done?")),
        array_join(slice(tk, 21, 5), " "))
      val doc = when(col("doc_id") % 13 === 0,
        concat(lines, lit("\nlorem ipsum {"))).otherwise(lines)
      T(s, dir, "documents")
        .select(col("doc_id"), doc.as("__d"))
        .filter(Text.c4DocOk(col("__d")))
        .select(col("doc_id"), Text.c4CleanLines(col("__d")).as("clean"),
          size(split(col("__d"), "\n")).cast(LongType).as("n_lines"),
          when(Text.c4CleanLines(col("__d")) === "", lit(0L))
            .otherwise(size(split(Text.c4CleanLines(col("__d")), "\n"))
              .cast(LongType)).as("n_kept"))
    }),
    // G55: HTML → visible text over a synthesized page wrapping each doc —
    // uppercase multiline <SCRIPT> (with a '<' in its body), <style>,
    // comments, entities (incl. the &amp;-last no-double-decode order),
    // whitespace collapse. The oracle replays the identical regex chain.
    "q_html_text" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        Text.htmlToText(syntheticHtml).as("clean"))),
    // G55: markup-shape stats (tag/link/script counts, visible-text
    // fraction) — the filter signals read before extraction
    "q_html_stats" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id") +: Text.htmlStats(syntheticHtml): _*)),
    // G55 flagship: the WEB-INGEST pipeline in one query — page →
    // htmlToText → NFC normalize → exact dedup on the EXTRACTED text
    // (markup variants of the same content collapse — the page wrapper
    // here carries no doc-unique markup precisely so real duplicate text
    // still collapses after extraction) → language ID + token count on
    // survivors. One corpus scan feeds the whole projection chain; the
    // only corpus-sized exchange is the dedup hash aggregate.
    "q_web_pipeline" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // the same content crawled twice under DIFFERENT markup (the
      // motivating case: raw-URL/raw-HTML dedup misses these; dedup on
      // the EXTRACTED text collapses them)
      val pageA = concat(lit("<html><body><script>track();</script><p>"),
        col("text"), lit(" &amp; tail</p><a href=\"/x\">next</a></body></html>"))
      val pageB = concat(lit("<div class=\"main\"><style>p{}</style>\n<p>"),
        col("text"), lit("&nbsp;&amp; tail</p><!-- v2 --><a\nhref=\"/y\">next</a></div>"))
      // variant-B ids offset past the REAL id space (max+1, the ScaleBench
      // salting device) — a fixed constant would collide with salted
      // replica ids at high replication factors
      val off = docs.agg(max("doc_id")).head().getLong(0) + 1L
      val crawl = docs.select(col("doc_id"), pageA.as("__p"))
        .unionByName(docs.select((col("doc_id") + off).as("doc_id"),
          pageB.as("__p")))
      val enriched = crawl.select(col("doc_id"),
        Text.normalizeUnicode(Text.htmlToText(col("__p"))).as("clean"))
      val keep = Dedup.exact(enriched, "doc_id", "clean")
        .select(col("keep_id").as("doc_id"))
      enriched.join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), Text.langId(col("clean")).as("lang_pred"),
          size(Text.tokens(col("clean"))).cast(LongType).as("n_tokens"))
    }),
    // BM25 keyword search: top-10 docs for a 3-term query
    "q_bm25" -> ((s, dir) =>
      Search.bm25TopK(T(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "vector", "customer"), k = 10)
        .select(col("id").as("doc_id"), col("score"))),
    // G58: the stored LEXICAL index — postings partitioned by term bucket,
    // probed without re-scanning the corpus under the r12 GUARDED default
    // (maxDfPermille = 990): surviving terms score through the shared
    // bm25Tail bit-identically to bm25TopK (the stored-index identity the
    // other four index families pin the same way), and the oracle applies
    // the identical df·1000 <= 990·n predicate to its own dfreq
    "q_bm25_index" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_lexidx").toString
      Search.writeLexIndex(T(s, dir, "documents"), "doc_id", "text", base,
        buckets = 16)
      Search.bm25FromIndex(s, base, Seq("spark", "vector", "customer"), k = 10)
        .select(col("id").as("doc_id"), col("score"))
    }),
    // G58: stop-term guard — a query term whose df exceeds the ceiling
    // (batch: ~800‰ of these docs) is dropped from the stored terms/
    // table BEFORE its corpus-sized posting list is scanned; the cut is
    // exact and the oracle applies the identical df*1000 <= ceiling*n
    // predicate to its own dfreq, so both engines drop the same terms at
    // ANY scale factor
    "q_bm25_stopguard" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_lexidx_g").toString
      Search.writeLexIndex(T(s, dir, "documents"), "doc_id", "text", base,
        buckets = 16)
      Search.bm25FromIndex(s, base, Seq("spark", "vector", "batch"), k = 10,
          maxDfPermille = 780)
        .select(col("id").as("doc_id"), col("score"))
    }),
    // G58: postings lifecycle — retire + admit under the stored layout;
    // maintained ≡ tokenized-from-scratch over the maintained membership
    // (the oracle re-derives every posting row)
    "q_bm25_index_delta" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val base = java.nio.file.Files.createTempDirectory("graft_lexidx_d").toString
      Search.writeLexIndex(docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", base, buckets = 16)
      val (posts, _, _, _) = Search.lexIndexDelta(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", base,
        docs.filter(col("doc_id") % 13 === 0).select(col("doc_id").as("id")))
      posts.select(col("id").as("doc_id"), col("term"), col("tf"),
        col("dl"), col("bucket"))
    }),
    // G58: STREAMING lexical-index MAINTENANCE — the crawl loop for the
    // postings family (the G40 q_stream_idxmaintain device, lexical
    // edition, and the ONLINE exerciser of writeLexDelta): bootstrap the
    // 90% generation, drain admitted docs as a file stream, and per
    // micro-batch run lexIndexDelta + the one-generation swap write-back
    // over the LIVE index. The retire set is
    // disjoint from the admitted ids and re-applied idempotently each
    // batch (anti-joins no-op once retired), so the final maintained
    // membership — (stored − retired) ∪ admitted — is identical under
    // ANY batch split and equals q_bm25_index_delta's, whose oracle this
    // query shares verbatim (postings re-derived from scratch in SQL).
    "q_stream_lexmaintain" -> ((s, dir) => withStreamShuffle(s) {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val corpus = d.filter(col("doc_id") % 10 =!= 0)
      val admitted = d.filter(col("doc_id") % 10 === 0)
      val base = java.nio.file.Files.createTempDirectory("graft_stream_lxm").toString
      val inDir = s"$base/in"; val idxDir = s"$base/index"; val ckpt = s"$base/ckpt"
      Search.writeLexIndex(corpus, "doc_id", "text", idxDir, buckets = 16)
      admitted.repartition(2).write.mode("overwrite").parquet(inDir)
      // retired ⊆ stored and disjoint from admitted: %13 hits minus the
      // %10 admits — retiring S every batch is idempotent, which is what
      // makes the loop batch-split invariant
      val retired = d.filter(col("doc_id") % 13 === 0 && col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("id"))
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(admitted.schema.toDDL),
        maxFilesPerTrigger = 1)
      val q = graft.streaming.Streams.toForeachBatch(stream, ckpt,
        availableNow = true) { (batch, _) =>
        if (!batch.isEmpty) {
          val (posts, doclens, stats, terms) = Search.lexIndexDelta(
            batch, "doc_id", "text", idxDir, retired)
          Search.writeLexDelta(idxDir, posts, doclens, stats, terms)
          graft.Caching.drain() // each delta's tracked tokenize pin
        }
      }
      q.awaitTermination()
      graft.streaming.Streams.readIndex(s, s"$idxDir/postings")
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("dl"),
          col("bucket").cast(LongType).as("bucket"))
    }),
    // G58: MULTI-query BM25 over the stored index — the batch-retrieval
    // shape (every query scored in one pass); per-query results are
    // bit-identical to per-call probes (spec) and the oracle replays all
    // three term sets through one rank window
    "q_bm25_many" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_lexidx_m").toString
      Search.writeLexIndex(T(s, dir, "documents"), "doc_id", "text", base,
        buckets = 16)
      import s.implicits._
      val q = bm25ManyQueries.flatMap { case (qid, ts) => ts.map(qid -> _) }
        .toDF("qid", "term")
      Search.bm25ManyFromIndex(s, base, q, "qid", "term", k = 5)
        .select(col("query_id"), col("id").as("doc_id"), col("score"),
          col("rank"))
    }),
    // G58: the STREAMING probe twin (the G47 device, lexical edition) —
    // query term-sets drain as a file stream, each micro-batch probes the
    // static stored index via foreachBatch; a query's top-k depends only
    // on its own terms + the index, so any whole-query batch split
    // appends the same rows (shares q_bm25_many's oracle)
    "q_stream_bm25probe" -> ((s, dir) => withStreamShuffle(s) {
      val base = java.nio.file.Files.createTempDirectory("graft_stream_bm").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      Search.writeLexIndex(T(s, dir, "documents"), "doc_id", "text",
        s"$base/idx", buckets = 16)
      import s.implicits._
      val q = bm25ManyQueries.flatMap { case (qid, ts) => ts.map(qid -> _) }
        .toDF("qid", "term")
      // keep each query's terms within one file ⇒ every micro-batch holds
      // whole queries
      q.repartition(2, col("qid")).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some("qid BIGINT, term STRING"),
        maxFilesPerTrigger = 1)
      val run = graft.streaming.Streams.toForeachBatch(stream, ckpt,
        availableNow = true) { (batch, id) =>
        if (!batch.isEmpty)
          Search.bm25ManyFromIndex(s, s"$base/idx", batch, "qid", "term", k = 5)
            .write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      run.awaitTermination()
      s.read.parquet(s"$outDir/batch_*")
        .select(col("query_id"), col("id").as("doc_id"), col("score"),
          col("rank"))
    }),
    // G56: hybrid retrieval — Reciprocal Rank Fusion of the BM25 lexical
    // top-10 and the dense cosine top-10 (query = embedding 0; doc_id and
    // vec_id share the id space at every SF). Contributions are exact
    // 1e6 div (60 + rank) BIGINTs, so the fused ranking replays in SQL.
    "q_rrf_hybrid" -> ((s, dir) => {
      val docs = T(s, dir, "documents"); val emb = T(s, dir, "embeddings")
      val dense = graft.similarity.Ann
        .bruteForceTopK(emb.filter(col("vec_id") === 0), emb,
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      Search.rrfFuse(Seq(lexTopKRanked(docs), dense),
          "query_id", "id", "rank", topK = 10)
        .select(col("id").as("doc_id"), col("rrf_ppm"), col("rank"))
    }),
    // G56+G59 capstone — the production retrieval stack in one query:
    // RRF-fuse the lexical BM25 top-10 with the dense POOLED
    // late-interaction top-10 (MaxSim.pooledTopK — one exact pooled dot
    // per pair), then settle the fused candidates with the exact MaxSim
    // token interaction (MaxSim.rerank — candidate-sized work: the corpus
    // semi-joins to the 10 fused ids BEFORE any gather). Lexical hits
    // outside the multi-vector sub-corpus carry no token matrix and drop
    // at the re-rank (the documented token-less contract); every stage is
    // exact integer/decimal arithmetic, so the whole stack replays in SQL.
    "q_hybrid_rerank" -> ((s, dir) => {
      val docs = T(s, dir, "documents"); val emb = T(s, dir, "embeddings")
      val toks = emb.select(expr("vec_id DIV 5").as("id"),
        expr("vec_id % 5").as("pos"), col("embedding"))
      val qToks = toks.filter(col("id") === 0)
      val dense = graft.similarity.MaxSim.pooledTopK(toks, qToks,
          "id", "pos", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      val fused = Search.rrfFuse(Seq(lexTopKRanked(docs), dense),
        "query_id", "id", "rank", topK = 10)
      graft.similarity.MaxSim.rerank(
        fused.select(col("query_id"), col("id").as("neighbor_id")),
        toks, qToks, "id", "pos", "embedding", k = 5)
    }),
    // overlapping token-window chunking (64-token windows, 50% overlap)
    "q_chunks" -> ((s, dir) =>
      Text.chunk(T(s, dir, "documents"), "doc_id", "text", 64, 32)
        .select(col("id").as("doc_id"), col("chunk_id"), col("chunk_text"),
          col("n_tokens"))),
    // benchmark decontamination: flag corpus docs sharing 5-grams with a
    // deterministic "eval set" (doc_id % 97 == 0)
    "q_decontaminate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      Dedup.decontaminate(docs, "doc_id", "text", bench, "text",
          k = 5, minHits = 1)
        .select(col("id").as("doc_id"), col("n_hits"), col("contaminated"))
    }),
    // Bloom-prefiltered decontamination: the too-big-to-broadcast-bench
    // path (sketch probe → exact verify join). No false negatives + exact
    // verify ⇒ output identical to q_decontaminate — shares its oracle.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      Dedup.decontaminateBloom(docs, "doc_id", "text", bench, "text",
          k = 5, minHits = 1, fpp = 0.01)
        .select(col("id").as("doc_id"), col("n_hits"), col("contaminated"))
    }),
    // WINNOWED decontamination: both sides thin to winnowing fingerprints
    // (~2/(w+1) of the k-gram volume) yet any shared run >= w+k-1 tokens
    // still shares a print — the storable-sketch cross-corpus check
    "q_decontaminate_winnow" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      Dedup.decontaminateWinnow(docs, "doc_id", "text", bench, "text",
          k = 8, w = 4, minHits = 1)
        .select(col("id").as("doc_id"), col("n_hits"), col("contaminated"))
    }),
    // corpus-overlap sketch (G49): KMV resemblance between two corpora —
    // two scans, two k-sized exchanges (the bounded kmv_set aggregate),
    // then 1×1 set math; no cross-corpus join exists. The k smallest
    // distinct hashes are a pure function of the shingle sets, so the
    // oracle replays with DISTINCT/ORDER BY/LIMIT per side.
    "q_corpus_overlap" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.corpusOverlap(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "text", ngram = 5, sketchK = 256)
    }),
    // equal-width histogram of order totals: bin edges from one min/max
    // fetch, binning is a projection, counting one partial-agg shuffle;
    // the oracle computes the identical IEEE double edges
    "q_histogram" -> ((s, dir) =>
      Ops.histogram(T(s, dir, "orders"), "o_totalprice", bins = 10)),
    // deterministic N-per-group sample: 3 orders per priority class by
    // md5(id) order — RNG-free, so the oracle reproduces the exact rows
    "q_sample_per_group" -> ((s, dir) =>
      Ops.sampleNPerGroup(T(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority"),
        Seq("o_orderpriority"), "o_orderkey", n = 3)),
    // STREAMING decontamination: the hygiene gate on a live ingest — the
    // bench shingle set is static (broadcasts inside every micro-batch),
    // documents arrive as a file stream, and each micro-batch runs the
    // batch decontaminate (per-doc hit counts depend only on the doc and
    // the static bench set, so any batch split appends the same rows);
    // shares q_decontaminate's oracle
    "q_stream_decontaminate" -> ((s, dir) => withStreamShuffle(s) {
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val base = java.nio.file.Files.createTempDirectory("graft_stream_dc").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      docs.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(docs.schema.toDDL), maxFilesPerTrigger = 1)
      val q = graft.streaming.Streams.toForeachBatch(stream, ckpt,
        availableNow = true, outputMode = "append") { (batch, id) =>
        Dedup.decontaminate(batch, "doc_id", "text", bench, "text",
            k = 5, minHits = 1)
          .select(col("id").as("doc_id"), col("n_hits"), col("contaminated"))
          .write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      s.read.parquet(s"$outDir/batch_*")
    }),
    // STREAMING incremental near-dedup: the daily-crawl loop live — the
    // corpus LSH index is STATIC (built once, read from storage), delta
    // documents arrive as a file stream, and each micro-batch probes the
    // batch operator against the static index (a doc's verdict depends
    // only on the doc + the index, so any batch split appends the same
    // rows — the q_stream_decontaminate argument); shares
    // q_incremental_neardup's oracle
    "q_stream_incneardup" -> ((s, dir) => withStreamShuffle(s) {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val delta = d.filter(col("doc_id") % 13 === 5)
      val base = java.nio.file.Files.createTempDirectory("graft_stream_inc").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val idxDir = s"$base/index"
      // the stored-index posture: write the corpus index once, probe a file
      // stream of deltas against the read-back table
      Dedup.bandKeysOf(d.filter(col("doc_id") % 13 =!= 5), "doc_id", "text",
        16, 4, 4).write.mode("overwrite").parquet(idxDir)
      val index = s.read.parquet(idxDir)
      delta.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(delta.schema.toDDL), maxFilesPerTrigger = 1)
      val q = graft.streaming.Streams.toForeachBatch(stream, ckpt,
        availableNow = true, outputMode = "append") { (batch, id) =>
        Dedup.incrementalNearDup(batch, "doc_id", "text", index, 16, 4, 4)
          .write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      s.read.parquet(s"$outDir/batch_*")
    }),
    // STREAMING ANN probe: the vector side of the live crawl loop —
    // query embeddings arrive as a file stream and each micro-batch
    // probes the STORED IVFPQ index (frozen model + cell-partitioned
    // codes, built once). A query's top-k depends only on the query and
    // the static index, so any batch split appends the same rows — at
    // nprobe = nlist the probe is the exhaustive ADC scan and the stream
    // shares q_pq's oracle bit for bit.
    "q_stream_annprobe" -> ((s, dir) => withStreamShuffle(s) {
      val emb = T(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_stream_annp").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val idxDir = s"$base/index"
      graft.similarity.Pq.writeIndex(emb, "vec_id", "embedding",
        dim = 64, m = 2, k = 4, dir = idxDir, nlist = 8)
      val queries = emb.filter(col("vec_id") < 8)
      queries.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(queries.schema.toDDL),
        maxFilesPerTrigger = 1)
      val q = graft.streaming.Streams.toForeachBatch(stream, ckpt,
        availableNow = true, outputMode = "append") { (batch, id) =>
        graft.similarity.Pq.probeIndex(batch, "vec_id", "embedding", idxDir,
            topK = 3, nprobe = 8)
          .write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      s.read.parquet(s"$outDir/batch_*")
        .select("query_id", "rank", "neighbor_id", "adc2")
    }),
    // STREAMING vector-index MAINTENANCE (the q_stream_lexmaintain device,
    // codes edition — with it, every index family with a delta function
    // also has its crawl loop online): admitted vectors drain as a file
    // stream; each micro-batch encodes them under the FROZEN stored model
    // (Pq.indexCodesDelta) and swap-writes the maintained code table back
    // over the live cell-partitioned layout. The retire set is disjoint
    // from the admits and idempotent per batch, so the final membership —
    // (stored − retired) ∪ admitted — is batch-split invariant and equals
    // q_ann_index_delta's, whose oracle (codebooks replayed on the 90%
    // generation, codes re-derived for the membership) this query shares.
    "q_stream_annmaintain" -> ((s, dir) => withStreamShuffle(s) {
      val emb = T(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val admitted = emb.filter(col("vec_id") % 10 === 0)
      val retired = emb.filter(col("vec_id") % 13 === 0 && col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("id"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_annm").toString
      val inDir = s"$base/in"; val idxDir = s"$base/index"; val ckpt = s"$base/ckpt"
      graft.similarity.Pq.writeIndex(corpus, "vec_id", "embedding",
        dim = 64, m = 2, k = 4, dir = idxDir, nlist = 8)
      admitted.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(admitted.schema.toDDL),
        maxFilesPerTrigger = 1)
      val q = graft.streaming.Streams.toForeachBatch(stream, ckpt,
        availableNow = true) { (batch, _) =>
        if (!batch.isEmpty) {
          val maintained = graft.similarity.Pq.indexCodesDelta(
            batch, "vec_id", "embedding", idxDir, retired)
          graft.operators.Sinks.swapWrite(maintained, s"$idxDir/codes",
            Seq("cell"))
        }
      }
      q.awaitTermination()
      graft.streaming.Streams.readIndex(s, s"$idxDir/codes")
        .select(col("id").as("vec_id"),
          element_at(col("codes"), 1).cast(LongType).as("code0"),
          element_at(col("codes"), 2).cast(LongType).as("code1"))
    }),
    // STREAMING SQ probe: the byte-code sibling of q_stream_annprobe —
    // scales are the frozen model (2·dim longs, trained once on the
    // corpus), query embeddings drain as a file stream, each micro-batch
    // scores against the static code table. A query's top-k depends only
    // on the query + the frozen (scales, corpus), so any batch split
    // appends the same rows and the stream shares q_sq_topk's oracle.
    "q_stream_sqprobe" -> ((s, dir) => withStreamShuffle(s) {
      val emb = T(s, dir, "embeddings")
      val scales = graft.similarity.Sq.trainScales(emb, "embedding", dim = 64)
      val base = java.nio.file.Files.createTempDirectory("graft_stream_sqp").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val queries = emb.filter(col("vec_id") < 8)
      queries.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(queries.schema.toDDL),
        maxFilesPerTrigger = 1)
      val q = graft.streaming.Streams.toForeachBatch(stream, ckpt,
        availableNow = true, outputMode = "append") { (batch, id) =>
        graft.similarity.Sq.sqTopK(batch, emb, "vec_id", "embedding",
            scales, topK = 3)
          .write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      s.read.parquet(s"$outDir/batch_*")
        .select("query_id", "rank", "neighbor_id", "sq2")
    }),
    // STREAMING MaxSim probe: the late-interaction sibling of
    // q_stream_annprobe — the corpus token-vector table is static, query
    // token rows drain as a file stream in WHOLE-QUERY file granularity
    // (repartition BY query id — a file split mid-query would gather a
    // partial matrix; the q_bm25_many whole-term-set device). A query's
    // top-k depends only on its own tokens + the static corpus, so any
    // whole-query batch split appends the same rows and the stream shares
    // q_maxsim's oracle.
    "q_stream_maxsim" -> ((s, dir) => withStreamShuffle(s) {
      val emb = T(s, dir, "embeddings")
      val toks = emb.select(expr("vec_id DIV 5").as("id"),
        expr("vec_id % 5").as("pos"), col("embedding"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_ms").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val queries = toks.filter(col("id") % 20 === 0)
      queries.repartition(2, col("id")).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(queries.schema.toDDL),
        maxFilesPerTrigger = 1)
      val q = graft.streaming.Streams.toForeachBatch(stream, ckpt,
        availableNow = true, outputMode = "append") { (batch, id) =>
        graft.similarity.MaxSim.maxSimTopK(toks, batch,
            "id", "pos", "embedding", k = 3)
          .write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      s.read.parquet(s"$outDir/batch_*")
        .select("query_id", "rank", "neighbor_id", "maxsim")
    }),
    // STREAMING stored-index MaxSim probe: the late-interaction leg of the
    // crawl-loop probe family (q_stream_annprobe / q_stream_sqprobe /
    // q_stream_bm25probe) — the gathered matrix layout is built ONCE on
    // disk, query token rows drain as a file stream in whole-query file
    // granularity, each micro-batch routes/screens/re-ranks against the
    // frozen index. A query's top-k depends only on its own tokens + the
    // frozen index, so any whole-query split appends the same rows and
    // the stream shares q_maxsim_index's oracle (nprobe == nlist).
    "q_stream_maxsimprobe" -> ((s, dir) => withStreamShuffle(s) {
      val emb = T(s, dir, "embeddings")
      val toks = emb.select(expr("vec_id DIV 5").as("id"),
        expr("vec_id % 5").as("pos"), col("embedding"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_msp").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val idxDir = s"$base/index"
      graft.similarity.MaxSim.writeIndex(toks, "id", "pos", "embedding",
        idxDir, nlist = 8)
      val queries = toks.filter(col("id") % 20 === 0)
      queries.repartition(2, col("id")).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(queries.schema.toDDL),
        maxFilesPerTrigger = 1)
      val q = graft.streaming.Streams.toForeachBatch(stream, ckpt,
        availableNow = true, outputMode = "append") { (batch, id) =>
        graft.similarity.MaxSim.probeIndex(batch, "id", "pos", "embedding",
            idxDir, k = 3, nprobe = 8, mShort = 8)
          .write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      s.read.parquet(s"$outDir/batch_*")
        .select("query_id", "rank", "neighbor_id", "maxsim")
    }),
    // STREAMING index MAINTENANCE: the full daily-crawl loop — per batch,
    // probe the stored index and APPEND admitted docs' band keys. The
    // streamed delta is pre-collapsed with keepCanonical (uncapped), whose
    // survivors are pairwise band-DISJOINT (distinct dup-components share
    // no band key by construction), so every admission verdict depends only
    // on the doc + the corpus index — the result is identical under ANY
    // batch split, which is what lets one SQL oracle replay the loop.
    // Output: the final maintained index (corpus keys ∪ admitted deltas').
    "q_stream_idxmaintain" -> ((s, dir) => withStreamShuffle(s) {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val corpus = d.filter(col("doc_id") % 13 =!= 5)
      val delta = Dedup.keepCanonical(d.filter(col("doc_id") % 13 === 5),
        "doc_id", "text", 16, 4, 4, maxBucket = Int.MaxValue,
        metricName = "idxm_precollapse")
      val base = java.nio.file.Files.createTempDirectory("graft_stream_idxm").toString
      val inDir = s"$base/in"; val idxDir = s"$base/index"
      val verdictDir = s"$base/verdicts"; val ckpt = s"$base/ckpt"
      graft.operators.Sinks.swapWrite(
        Dedup.bandKeysOf(corpus, "doc_id", "text", 16, 4, 4), idxDir)
      delta.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(delta.schema.toDDL),
        maxFilesPerTrigger = 1)
      val q = graft.streaming.Streams.indexMaintainStream(stream, "doc_id",
        "text", idxDir, verdictDir, ckpt, 16, 4, 4)
      q.awaitTermination()
      // the maintained index = the bootstrap generation + the deltas
      graft.streaming.Streams.readIndex(s, idxDir)
    }),
    // STREAMING LSH near-dup: the stateful twin of the G3 flagship path.
    // Banded minhash buckets live as keyed state — (min_id, n_members)
    // per bucket, NO member lists — and each micro-batch emits touched
    // buckets' updated state as a changelog (update mode, per-batch
    // dirs). Compaction keeps the max-n_members emission per bucket
    // (n_members strictly increases), then documents' band keys join the
    // final buckets for per-doc verdicts: canonical = min bucket-min
    // over the doc's bands, duplicate iff canonical < id. min and count
    // commute, so the result is identical under ANY batch split; the
    // oracle recomputes the same md5 band buckets in SQL.
    "q_stream_neardup" -> ((s, dir) => withStreamShuffle(s) {
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val base = java.nio.file.Files.createTempDirectory("graft_stream_nd").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      docs.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(docs.schema.toDDL), maxFilesPerTrigger = 1)
      val buckets = graft.streaming.Streams.lshBucketsStream(stream,
        "doc_id", "text", numHashes = 16, bands = 4, rowsPerBand = 4)
      val q = graft.streaming.Streams.toForeachBatch(buckets, ckpt,
        availableNow = true, outputMode = "update") { (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      val finalBuckets = s.read.parquet(s"$outDir/batch_*")
        .groupBy("band", "band_key")
        .agg(max(struct(col("n_members"), col("min_id"))).as("__f"))
        .select(col("band"), col("band_key"), col("__f.min_id").as("min_id"))
      val banded = Dedup.bandedKeys(
        Dedup.minhashSignature(docs, "doc_id", "text", 16),
        bands = 4, rowsPerBand = 4)
      banded.join(finalBuckets, Seq("band", "band_key"))
        .groupBy("id")
        .agg(min("min_id").as("canonical"))
        .select(col("id").as("doc_id"), col("canonical"),
          (col("canonical") < col("id")).as("is_dup"))
    }),
    // STREAMING span dedup: span-ownership state (min (id,chunk) per hash —
    // batch-split independent) drained as a changelog, compacted by max
    // n_copies, per-doc dup fractions from a drain-time hash join; the
    // oracle is the BATCH spanDedup SQL — the stream must land on it exactly
    "q_stream_spandedup" -> ((s, dir) => withStreamShuffle(s) {
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val base = java.nio.file.Files.createTempDirectory("graft_stream_sd").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      docs.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(docs.schema.toDDL), maxFilesPerTrigger = 1)
      val owners = graft.streaming.Streams.chunkOwnersStream(stream,
        "doc_id", "text", window = 32)
      val q = graft.streaming.Streams.toForeachBatch(owners, ckpt,
        availableNow = true, outputMode = "update") { (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      val finalOwners = s.read.parquet(s"$outDir/batch_*")
        .groupBy("h")
        .agg(max(struct(col("n_copies"), col("owner_id"), col("owner_chunk")))
          .as("__f"))
        .select(col("h"), col("__f.owner_id").as("owner_id"),
          col("__f.owner_chunk").as("owner_chunk"))
      Text.chunk(docs, "doc_id", "text", 32, 32)
        .select(col("id"), col("chunk_id"), md5(col("chunk_text")).as("h"))
        .join(finalOwners, Seq("h"))
        .groupBy("id").agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("owner_id") =!= col("id") ||
            col("owner_chunk") =!= col("chunk_id"), 1L).otherwise(0L))
            .as("n_dup_chunks"))
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          (col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
            .as("dup_frac"))
    }),
    // Gopher-style repetition metrics: duplicate / most-frequent bigram
    // fractions per document (the boilerplate-and-spam filter signal)
    "q_repetition" -> ((s, dir) =>
      Text.repetitionStats(T(s, dir, "documents"), "doc_id", "text", n = 2)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_distinct"),
          col("dup_frac"), col("top_frac"))),
    // span-level corpus dedup: non-overlapping 32-token chunks, first
    // corpus-wide occurrence owns the span, later copies count as dups
    "q_span_dedup" -> ((s, dir) =>
      Dedup.spanDedup(T(s, dir, "documents"), "doc_id", "text", window = 32)
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          col("dup_frac"))),
    // span dedup as a TRANSFORM: duplicated 32-token windows removed and
    // the cleaned text reassembled in chunk order (the C4 "drop repeated
    // spans" rewrite); oracle rebuilds the kept-chunk join in DuckDB
    "q_span_dedup_clean" -> ((s, dir) =>
      Dedup.spanDedupClean(T(s, dir, "documents"), "doc_id", "text", window = 32)
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          col("clean_text"))),
    // boilerplate removal: 2-token chunks appearing in >= 20 distinct docs
    // drop from EVERY document (window=2 so the tiny synthetic vocabulary
    // actually produces cross-doc repeats; production window is larger)
    "q_boilerplate" -> ((s, dir) =>
      Dedup.boilerplateClean(T(s, dir, "documents"), "doc_id", "text",
          window = 2, minDocFreq = 20)
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_boiler_chunks"),
          col("clean_text"))),
    // URL blocklist filter: block two domains incl. their subdomains
    // (cdn.srcN.com must match a srcN.com blocklist entry via the suffix
    // chain — plain equality would miss it)
    "q_domain_filter" -> ((s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents").withColumn("url",
        concat(lit("https://"),
          when(col("doc_id") % 3 === 0, lit("cdn.")).otherwise(lit("www.")),
          col("source"), lit(".com/"), col("doc_id").cast(StringType)))
      val bl = Seq("src3.com", "src7.com").toDF("domain")
      Ops.domainBlocklistFilter(docs, "doc_id", "url", bl, "domain")
        .select("doc_id", "url")
    }),
    // URL canonicalization: messy synthetic URLs (mixed-case scheme/host,
    // default ports, tracking params, fragments, trailing slashes) →
    // canonical form; the oracle replays the same RE2 regex chain
    "q_canonical_url" -> ((s, dir) => {
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTP://")).otherwise(lit("https://")),
        when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("www.")),
        col("source"), lit(".COM"),
        when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")),
        lit("/Path/"), col("doc_id").cast(StringType),
        when(col("doc_id") % 4 === 0, lit("/?utm_source=x&utm_medium=y"))
          .otherwise(lit("?a=1&gclid=z#frag")))
      T(s, dir, "documents").select(col("doc_id"), url.as("url"),
        graft.functions.Text.canonicalUrl(url).as("canon"))
    }),
    // per-document TF-IDF keywords (top-3, decimal-quantized ln scoring)
    "q_tfidf" -> ((s, dir) =>
      graft.similarity.Search.tfIdfKeywords(T(s, dir, "documents"), "doc_id", "text", m = 3)
        .select(col("id").as("doc_id"), col("token"), col("score"), col("rnk"))),
    // corpus vocabulary with dense frequency ranks
    "q_vocab" -> ((s, dir) =>
      graft.similarity.Search.vocabulary(T(s, dir, "documents"), "doc_id", "text")),
    // inverted index over the corpus: token → sorted postings + df; the
    // postings array flattens to a string for the cross-engine compare
    // (array reprs differ between engines; the VALUES must not)
    "q_inverted_index" -> ((s, dir) =>
      graft.similarity.Search.invertedIndex(
          T(s, dir, "documents").select(col("doc_id").cast(StringType).as("doc_id"),
            col("text")),
          "doc_id", "text", maxPostings = 1000)
        .select(col("token"),
          expr("array_join(postings, ' ')").as("postings"), col("df"))),
    // CCNet-style perplexity signal: cross-entropy under a corpus-trained
    // add-one unigram LM (outlier-high = noise, outlier-low = boilerplate)
    "q_lm_xent" -> ((s, dir) =>
      graft.functions.Lm.unigramCrossEntropy(T(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"), col("xent"))),
    // bigram perplexity: order-sensitive fluency signal (a shuffled bag of
    // the same words scores the same under the unigram LM, not this one)
    "q_lm_xent_bigram" -> ((s, dir) =>
      graft.functions.Lm.bigramCrossEntropy(T(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("xent"))),
    // DSIR data selection: log importance weight toward the en subcorpus
    "q_dsir" -> ((s, dir) =>
      graft.functions.Lm.importanceWeights(T(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("logw").cast("double").as("logw"))),
    // fastText-style quality classifier inference: hashing-trick features
    // (md5 mod 4096 — vocabulary-free, fixed model memory) scored against
    // a broadcast weight table; weights here are a deterministic synthetic
    // model (production ships trained ones), all-DECIMAL accumulation
    // classifier TRAINING (batch perceptron, all-BIGINT): labels from the
    // lang column, 3 fixed epochs over hashed features; the oracle unrolls
    // the same integer epochs (zero cold start → epoch 1 updates on every
    // doc), so any drift in margins/updates/bias hash-mismatches
    "q_train_classifier" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val feats = graft.functions.Lm.hashedFeatures(docs, "doc_id", "text", 512)
      val labels = docs.select(col("doc_id").as("id"),
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
      graft.functions.Lm.trainPerceptron(feats, labels, epochs = 3)
    }),
    "q_quality_classifier" -> ((s, dir) => {
      val dim = 4096
      val weights = s.range(dim).select(col("id").as("bucket"),
        ((col("id") * 37 % 201 - 100).cast(DecimalType(18, 6)) *
          lit(new java.math.BigDecimal("0.01"))).cast(DecimalType(18, 6)).as("weight"))
      val feats = graft.functions.Lm.hashedFeatures(
        T(s, dir, "documents"), "doc_id", "text", dim)
      graft.functions.Lm.linearScore(feats, weights, new java.math.BigDecimal("0.5"))
        .select(col("id").as("doc_id"), col("score").cast(DoubleType).as("score"),
          col("n_features"))
    }),
    // BPE training off the toy regime: 17 batched job rounds at R=32 over
    // the customer-name corpus (the richest vocabulary in the testdata —
    // documents.text has 31 distinct words and exhausts at 89 merges)
    // yield 268 merges at sf0.01. One corpus scan; a round is ONE
    // vocab-sized job + argmax fetch, not 32 — the scheduler-round-trip
    // posture a 50k-merge production run needs (at R=32 that run is ~1.6k
    // vocab-sized jobs, not 50k). maxRounds bounds rounds instead of the
    // merge count so every round wants the full R and the oracle can
    // unroll exactly 17 rounds — short early rounds (symbol diversity <
    // 64) mirror as empty SQL slots. The oracle replays the batched
    // greedy selection round for round in the same padded-string
    // representation.
    "q_bpe_merges" -> ((s, dir) =>
      graft.functions.Bpe.train(T(s, dir, "customer"), "c_name",
          nMerges = 544, mergesPerRound = 32, maxRounds = 17)._1
        .select(col("rank"), col("l"), col("r"), col("merged"), col("n"))),
    // BPE segmentation: replay the trained merges over every corpus token
    // as a chain of literal-replace projections (zero shuffles). The
    // oracle instead joins tokens to the final trained vocabulary —
    // agreement proves the projection chain ≡ the training fixpoint.
    "q_bpe_segment" -> ((s, dir) => {
      val docs = T(s, dir, "customer")
      val merges = graft.functions.Bpe.train(docs, "c_name",
          nMerges = 544, mergesPerRound = 32, maxRounds = 17)._1
        .select("l", "r").collect().map(row => (row.getString(0), row.getString(1))).toSeq
      graft.functions.Bpe.segment(docs, "c_custkey", "c_name", merges)
        .select(col("id").as("c_custkey"), col("token"),
          array_join(col("syms"), " ").as("syms_str"), col("n_syms"))
    }),
    // deterministic k-means over embeddings: md5 seeding, 2 Lloyd passes,
    // quantized components so centroid means are exact cross-engine
    "q_kmeans" -> ((s, dir) =>
      graft.similarity.Clustering.kmeans(T(s, dir, "embeddings"), "vec_id", "embedding",
          k = 4, rounds = 2)
        .select(col("id").as("vec_id"), col("cluster"), col("dist2"))),
    // cluster-balanced DIVERSITY sample (r13): k-means assignment → a
    // deterministic per-cluster quota (md5-order N-per-group) — the
    // "subsample evenly across semantic space" training-prep op
    // (SemDeDup-style clusters, then equal representation instead of
    // frequency-proportional), composed from G29 + G23. Scale shape:
    // the Lloyd passes are G29's constant-plan jobs and the quota is
    // one partial-agg TopKStruct pass — no window sort over the corpus
    "q_cluster_sample" -> ((s, dir) => {
      val asg = graft.similarity.Clustering.kmeans(T(s, dir, "embeddings"),
          "vec_id", "embedding", k = 4, rounds = 2)
        .select(col("id").as("vec_id"), col("cluster"))
      Ops.sampleNPerGroup(asg, Seq("cluster"), "vec_id", n = 8)
    }),
    // product quantization: per-subspace k-means codebooks (m=2, k=4),
    // byte-code corpus, ADC top-k — the memory-compression ANN scale path
    "q_pq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cbs = graft.similarity.Pq.trainCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 2, k = 4, rounds = 2)
      graft.similarity.Pq.adcTopK(emb.filter(col("vec_id") < 8), emb,
          "vec_id", "embedding", cbs, topK = 3)
        .select("query_id", "rank", "neighbor_id", "adc2")
    }),
    // IVF-routed ADC (FAISS IVFPQ composition): coarse cells route the
    // query, PQ codes score the candidates. nprobe = nlist probes every
    // cell, so the result is EXACTLY adcTopK's — same oracle — while the
    // plan exercises the routed join (cell assignment + broadcast probe)
    // that at nprobe < nlist scans only ~nprobe/nlist of the codes.
    "q_pq_ivf" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cbs = graft.similarity.Pq.trainCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 2, k = 4, rounds = 2)
      graft.similarity.Pq.ivfAdcTopK(emb.filter(col("vec_id") < 8), emb,
          "vec_id", "embedding", cbs, topK = 3, nlist = 8, nprobe = 8,
          trained = true)
        .select("query_id", "rank", "neighbor_id", "adc2")
    }),
    // ADC shortlist + exact re-rank (the production recall lever): search
    // wide with compressed codes (top-8 by ADC), settle the final top-3
    // with |Q|·8 exact distances. The oracle replays the same ADC
    // shortlist and the same (q·q + c·c) − 2·q·c double arithmetic.
    "q_pq_rerank" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cbs = graft.similarity.Pq.trainCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 2, k = 4, rounds = 2)
      val queries = emb.filter(col("vec_id") < 8)
      val short = graft.similarity.Pq.ivfAdcTopK(queries, emb,
        "vec_id", "embedding", cbs, topK = 8, nlist = 8, nprobe = 8)
      graft.similarity.Pq.rerank(short, queries, emb, "vec_id", "embedding",
        topK = 3)
    }),
    // G47: PERSISTENT IVFPQ index — the ANN side of the stored-index crawl
    // loop: model + cell-partitioned codes written to disk, probed from
    // disk. nprobe = nlist makes the probe ≡ the exhaustive ADC scan, so
    // the store/load round-trip shares q_pq's oracle; at nprobe < nlist
    // the cell routing prunes code PARTITIONS at file-listing time
    // (plans/ANN.md measures the pruned fraction; SourcesAnnSpec pins the
    // PartitionFilters shape)
    "q_ann_index_probe" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_pqidx").toString
      // trained = true: the k-means coarse quantizer is the production
      // routing path (balanced cells on real distributions); at
      // nprobe = nlist the probe result is centroid-independent, so the
      // store/load identity oracle is unchanged
      graft.similarity.Pq.writeIndex(emb, "vec_id", "embedding",
        dim = 64, m = 2, k = 4, dir = idx, nlist = 8, trained = true)
      graft.similarity.Pq.probeIndex(emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", idx, topK = 3, nprobe = 8)
        .select("query_id", "rank", "neighbor_id", "adc2")
    }),
    // OPQ-ROTATED persistent index (r9): the rotation is stored IN the
    // model and probeIndex applies it to queries automatically — build-
    // and probe-time rotation cannot drift. The oracled rotation is the
    // fixed coordinate-reversal permutation (orthonormal; MatVecMul's
    // double-accumulate narrows back to the exact permuted floats), so
    // the whole rotated train/encode/ADC replay stays bit-deterministic
    // in SQL via list_reverse; the data-derived Pca.rotation path is
    // pinned by SourcesAnnSpec's rotated-index ≡ rotated-adcTopK identity
    "q_ann_index_opq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_pqidx_r").toString
      val rev = Array.tabulate(64, 64)((i, j) => if (j == 63 - i) 1.0 else 0.0)
      graft.similarity.Pq.writeIndex(emb, "vec_id", "embedding",
        dim = 64, m = 2, k = 4, dir = idx, nlist = 8, rotation = Some(rev))
      graft.similarity.Pq.probeIndex(emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", idx, topK = 3, nprobe = 8)
        .select("query_id", "rank", "neighbor_id", "adc2")
    }),
    // ANN index maintenance under the FROZEN model: retire ids, encode the
    // delta with the stored codebooks, output the maintained code table —
    // the oracle re-derives every maintained code from scratch (train on
    // the 90% generation, encode the maintained membership), so
    // maintained ≡ rebuilt is checked row for row, same identity law as
    // q_index_delta / q_winnow_index_delta
    "q_ann_index_delta" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val idx = java.nio.file.Files.createTempDirectory("graft_pqidx_d").toString
      graft.similarity.Pq.writeIndex(emb.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", dim = 64, m = 2, k = 4, dir = idx, nlist = 8)
      graft.similarity.Pq.indexCodesDelta(
          emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding", idx,
          emb.filter(col("vec_id") % 13 === 0).select(col("vec_id").as("id")))
        .select(col("id").as("vec_id"),
          element_at(col("codes"), 1).cast(LongType).as("code0"),
          element_at(col("codes"), 2).cast(LongType).as("code1"))
    }),
    // SemDeDup: k-means blocks + within-cluster cosine, keep-lowest-id
    "q_semdedup" -> ((s, dir) =>
      graft.similarity.Clustering.semDedup(T(s, dir, "embeddings"), "vec_id", "embedding",
          k = 4, tau = 0.2, rounds = 2)
        .select(col("id").as("vec_id"), col("cluster"), col("is_dup"))),
    // near-dup pairs → transitive clusters: min-label propagation to
    // fixpoint ≡ the oracle's exact transitive closure
    "q_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccard(T(s, dir, "documents"), "doc_id", "text",
        k = 3, tau = 0.5)
      Dedup.dupClusters(pairs)
        .select(col("member").as("doc_id"), col("canonical"))
    }),
    // near-dup FLAGSHIP: the full scale path in one query — zero-shuffle
    // minhash signatures → banded LSH candidates (guarded buckets) →
    // pointer-jumped connected components → keep only each cluster's
    // canonical doc (non-members keep themselves). The oracle recomputes
    // the identical pairs and closes them with a recursive CTE.
    "q_neardup_pipeline" -> ((s, dir) =>
      Dedup.keepCanonical(T(s, dir, "documents"), "doc_id", "text",
          numHashes = 16, bands = 4, rowsPerBand = 4, maxBucket = 256)
        .select(col("doc_id"), col("lang"))),
    // SOFT dedup (G50): the same near-dup clusters, but every doc kept
    // with weight_permille = 1000 div cluster-size — the downweight-not-
    // drop posture; oracle = the neardup recursive CTE + a size rollup
    "q_soft_dedup" -> ((s, dir) =>
      Dedup.softDedupWeights(T(s, dir, "documents"), "doc_id", "text",
        numHashes = 16, bands = 4, rowsPerBand = 4, maxBucket = 256)),
    // STREAMING soft dedup (G50 twin): the banded bucket state streams
    // (constant per bucket: min_id + n_members, the lshBucketsStream
    // state); at drain, STAR edges (member → bucket min) close to the
    // SAME connected components as the batch pair list — within a bucket
    // a clique and a star reach identical components — so cluster sizes
    // and weights land exactly on the batch answer (shared oracle)
    "q_stream_softdedup" -> ((s, dir) => withStreamShuffle(s) {
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val base = java.nio.file.Files.createTempDirectory("graft_stream_sdw").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      docs.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(docs.schema.toDDL), maxFilesPerTrigger = 1)
      val buckets = graft.streaming.Streams.lshBucketsStream(stream,
        "doc_id", "text", numHashes = 16, bands = 4, rowsPerBand = 4)
      val q = graft.streaming.Streams.toForeachBatch(buckets, ckpt,
        availableNow = true, outputMode = "update") { (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      // compact the changelog by max n_members, then apply the SAME
      // maxBucket=256 guard the batch operator uses — the final state
      // carries each bucket's total membership, so the drop is exact
      val finalBuckets = s.read.parquet(s"$outDir/batch_*")
        .groupBy("band", "band_key")
        .agg(max(struct(col("n_members"), col("min_id"))).as("__f"))
        .filter(col("__f.n_members") <= 256)
        .select(col("band"), col("band_key"), col("__f.min_id").as("min_id"))
      val banded = Dedup.bandedKeys(
        Dedup.minhashSignature(docs, "doc_id", "text", 16),
        bands = 4, rowsPerBand = 4)
      val edges = banded.join(finalBuckets, Seq("band", "band_key"))
        .filter(col("id") =!= col("min_id"))
        .select(col("id").as("id_a"), col("min_id").as("id_b")).distinct()
      val clusters = Dedup.dupClusters(edges)
      val sizes = clusters.groupBy("canonical").agg(count(lit(1)).as("__n"))
      val m = clusters.join(sizes, "canonical")
        .select(col("member").as("doc_id"), col("canonical"), col("__n"))
      docs.select(col("doc_id"))
        .join(m, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("canonical"), col("doc_id")).as("cluster"),
          coalesce(col("__n"), lit(1L)).as("n_copies"),
          expr("1000 div coalesce(__n, 1)").as("weight_permille"))
    }),
    // CCNet perplexity buckets (G51): head/middle/tail terciles of the
    // corpus-LM cross-entropy by RANK cutoffs (ntile — all-integer, no
    // interpolated-threshold ulp hazard); bucket 0 = lowest xent = head
    "q_ccnet_buckets" -> ((s, dir) =>
      graft.functions.Lm.perplexityBuckets(T(s, dir, "documents"), "doc_id", "text", 3)
        .select(col("id").as("doc_id"), col("n_tokens"), col("xent"),
          col("bucket"))),
    // INCREMENTAL-CURATION flagship: the r6 ops composed as a daily ingest
    // run — diff the snapshots, probe only added ∪ changed against the
    // LSH index of the UNCHANGED (already-curated) corpus, token-budget
    // the surviving ingest per language. Corpus text is touched only for
    // the index build; at scale that index is read from storage
    // (q_stream_incneardup's posture) and the whole run is O(delta).
    // Within-batch dups are keepCanonical's job upstream (q_neardup_
    // pipeline); budgets truncate every language at sf0.01.
    "q_incremental_pipeline" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val old = d.filter(col("doc_id") % 11 =!= 3)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val diff = Ops.snapshotDiff(old, d, "doc_id", "text")
      val fresh = d.join(diff.filter(col("status").isin("added", "changed"))
        .select("id"), col("doc_id") === col("id"), "left_semi")
      val corpus = d.join(diff.filter(col("status") === "unchanged")
        .select("id"), col("doc_id") === col("id"), "left_semi")
      val index = Dedup.bandKeysOf(corpus, "doc_id", "text", 16, 4, 4)
      val probed = Dedup.incrementalNearDup(fresh, "doc_id", "text", index, 16, 4, 4)
      val keep = fresh.join(probed.filter(!col("dup_of_corpus"))
        .select("id"), col("doc_id") === col("id"), "left_semi")
      Ops.tokenBudgetSample(keep, "doc_id", "lang", "text",
        Map("en" -> 1500L, "zh" -> 500L, "es" -> 400L))
    }),
    "q_minhash" -> ((s, dir) => {
      val docs = T(s, dir, "documents").filter(size(Text.tokens(col("text"))) > 0)
      Dedup.minhashSignature(docs, "doc_id", "text", 4)
        .select(col("id").as("doc_id"), col("sig")(0).as("h0"), col("sig")(1).as("h1"),
          col("sig")(2).as("h2"), col("sig")(3).as("h3"))
    }),
    "q_simhash" -> ((s, dir) => Dedup.simhash(T(s, dir, "documents"), "doc_id", "text")),
    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(
        Dedup.simhash(T(s, dir, "documents"), "doc_id", "text"), maxHamming = 3)),
    "q_lsh_pairs" -> ((s, dir) => {
      val sig = Dedup.minhashSignature(T(s, dir, "documents"), "doc_id", "text", 16)
      // maxBucket=256: docs sharing a whole signature band by the hundreds
      // are exact-duplicate territory (q_dedup_exact handles them upstream);
      // capping keeps LSH at its O(n·bands) design point instead of
      // degenerating to n² inside mega-buckets.
      Dedup.lshPairs(sig, bands = 4, rowsPerBand = 4, maxBucket = 256)
    }),
    // LSH operating-point QA: measured banding recall vs exact Jaccard
    // ground truth at tau=0.5 — the bands×rows tuning report, all-integer.
    // Run on a deterministic 1/4 sample, as documented: exact Jaccard is
    // the quadratic-family ground truth and belongs on samples.
    "q_lsh_recall" -> ((s, dir) =>
      Dedup.lshRecallReport(
        T(s, dir, "documents").filter(col("doc_id") % 4 === 0),
        "doc_id", "text",
        k = 3, tau = 0.5, numHashes = 16, bands = 4, rowsPerBand = 4)),
    // incremental near-dedup: the delta (doc_id % 13 = 5) probes the LSH
    // index built over the rest of the corpus — corpus text read once
    "q_incremental_neardup" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val index = Dedup.bandKeysOf(d.filter(col("doc_id") % 13 =!= 5),
        "doc_id", "text", 16, 4, 4)
      Dedup.incrementalNearDup(d.filter(col("doc_id") % 13 === 5),
        "doc_id", "text", index, 16, 4, 4)
    }),
    // LSH-index maintenance (G40): one generation step of the daily-crawl
    // loop — retire removed/changed ids from the gen-A index, append the
    // admitted docs' band keys. The ORACLE rebuilds the gen-B index from
    // scratch in SQL: maintained ≡ rebuilt is the maintenance identity,
    // checked independently per row rather than assumed.
    "q_index_delta" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val genA = d.filter(col("doc_id") % 11 =!= 3)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val diff = graft.operators.Ops.snapshotDiff(genA, d, "doc_id", "text")
      val retired = diff.filter(col("status").isin("removed", "changed"))
        .select("id")
      val admitted = d.join(
        diff.filter(col("status").isin("added", "changed")).select("id"),
        col("doc_id") === col("id"), "left_semi")
      Dedup.indexDelta(Dedup.bandKeysOf(genA, "doc_id", "text", 16, 4, 4),
        admitted, "doc_id", "text", retired, 16, 4, 4)
    }),
    // incremental substring-contamination probe: the delta (doc_id % 10 = 0)
    // probes the winnow-prints index built over the rest of the corpus —
    // index streamed, delta-print set broadcast (the G40 build-side law
    // extended to the winnow family)
    "q_winnow_probe" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val index = Dedup.winnowedPrints(d.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", k = 8, w = 4)
      Dedup.winnowProbe(d.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          index, k = 8, w = 4, minHits = 1)
        .select(col("id").as("doc_id"), col("n_hits"), col("contaminated"))
    }),
    // prints-index maintenance: retire removed/changed ids, append admitted
    // docs' prints — the ORACLE rebuilds the gen-B prints from scratch;
    // maintained ≡ rebuilt is the maintenance identity, row for row
    "q_winnow_index_delta" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val genA = d.filter(col("doc_id") % 11 =!= 3)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val diff = graft.operators.Ops.snapshotDiff(genA, d, "doc_id", "text")
      val retired = diff.filter(col("status").isin("removed", "changed"))
        .select("id")
      val admitted = d.join(
        diff.filter(col("status").isin("added", "changed")).select("id"),
        col("doc_id") === col("id"), "left_semi")
      Dedup.winnowIndexDelta(
          Dedup.winnowedPrints(genA, "doc_id", "text", k = 8, w = 4),
          admitted, "doc_id", "text", retired, k = 8, w = 4)
        .select(col("id").as("doc_id"), col("pos"), col("print"))
    }),
    // STREAMING prints-index MAINTENANCE (the q_stream_lexmaintain device,
    // winnow edition — the last delta-bearing family to get its crawl
    // loop online): admitted docs drain as a file stream; each
    // micro-batch anti-joins the retire set off the LIVE prints and
    // appends its own docs' winnowed prints, swap-written back. Retire
    // set disjoint from the admits and idempotent ⇒ batch-split
    // invariant; the oracle re-derives every print of the final
    // membership from scratch.
    "q_stream_winnowmaintain" -> ((s, dir) => withStreamShuffle(s) {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val stored = d.filter(col("doc_id") % 10 =!= 0)
      val admitted = d.filter(col("doc_id") % 10 === 0)
      val retired = d.filter(col("doc_id") % 13 === 0 && col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("id"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_wnm").toString
      val inDir = s"$base/in"; val idxDir = s"$base/index"; val ckpt = s"$base/ckpt"
      graft.operators.Sinks.swapWrite(
        Dedup.winnowedPrints(stored, "doc_id", "text", k = 8, w = 4), idxDir)
      admitted.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(admitted.schema.toDDL),
        maxFilesPerTrigger = 1)
      val q = graft.streaming.Streams.toForeachBatch(stream, ckpt,
        availableNow = true) { (batch, _) =>
        if (!batch.isEmpty) {
          val idx = graft.streaming.Streams.readIndex(s, idxDir)
          graft.operators.Sinks.swapWrite(
            Dedup.winnowIndexDelta(idx, batch, "doc_id", "text", retired,
              k = 8, w = 4), idxDir)
        }
      }
      q.awaitTermination()
      graft.streaming.Streams.readIndex(s, idxDir)
        .select(col("id").as("doc_id"), col("pos"), col("print"))
    }),
    "q_cosine_neardup" -> ((s, dir) =>
      Dedup.cosineNearDup(
        T(s, dir, "embeddings").filter(col("vec_id") < 200), "vec_id", "embedding", 0.2)),
    // scale path: hyperplane-LSH candidates + exact cosine verify; the
    // oracle rebuilds the identical md5-derived planes in SQL
    "q_cosine_neardup_lsh" -> ((s, dir) =>
      Dedup.cosineNearDupLsh(
        T(s, dir, "embeddings").filter(col("vec_id") < 200), "vec_id", "embedding",
        tau = 0.2, dim = 64)),
    // pruned variant: stop-shingles dropped from BOTH intersections and set
    // sizes (consistent approximate Jaccard over the pruned universe)
    "q_jaccard_pruned" -> ((s, dir) =>
      Dedup.ngramJaccard(T(s, dir, "documents"), "doc_id", "text", k = 3, tau = 0.5,
        maxShingleDf = 10)),
    // lossless prefix filter (AllPairs/PPJoin): candidates only from
    // rarest-shingle prefixes, exact-verified — the high-tau scale path
    "q_jaccard_prefix" -> ((s, dir) =>
      Dedup.ngramJaccardPrefix(T(s, dir, "documents"), "doc_id", "text",
        k = 3, tau = 0.8)),
    // fuzzy short-string dedup: 2-token blocks, exact levenshtein verify
    "q_editdist" -> ((s, dir) =>
      Dedup.editDistancePairs(T(s, dir, "part"), "p_partkey", "p_name",
        maxDist = 12, blockTokens = 2, maxBlock = 64)),
    // cross-source record linkage: part names vs a second "vendor feed"
    // (same parts, last name-word dropped) — blocked equi-join + exact
    // levenshtein verify, never a cartesian. r16 maxBlockPairs guard
    // (default 2^20): the sf1 soak caught the unguarded form paying
    // ~2.5e8 levenshtein pairs and a ~100 GB oracle join at ×10 —
    // p_name draws first words from a pool of 8, so 1-token block
    // density grows linearly with SF and the pair product
    // quadratically. The default cap admits every sf0.01 block
    // (269×19 ≈ 5k pairs — real rows at the driver gate) and every
    // sf0.1 block (2.6k×140 ≈ 360k — real rows at the bench SF), and
    // FIRES at sf1 (26k×1.4k ≈ 36M > 2^20), where both engines drop
    // the same blocks — the cap itself is oracled at scale
    "q_fuzzy_join" -> ((s, dir) => {
      val l = T(s, dir, "part").select(col("p_partkey").as("l_id"),
        col("p_name").as("l_name"))
      val r = T(s, dir, "part").filter(col("p_partkey") % 20 === 0)
        .select((col("p_partkey") + 1000000).as("r_id"),
          regexp_replace(col("p_name"), " [a-z]+$", "").as("r_name"))
      Dedup.fuzzyJoin(l, r, "l_name", "r_name", maxDist = 12,
        blockTokens = 1)
    }),

  )
}
