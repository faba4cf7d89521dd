package graft

import org.apache.spark.sql.functions._

import graft.functions.{Text, Vectors}
import graft.dedup.Dedup

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("tokens filters empties; tokenStats counts ws + bpeish tokens") {
    val df = Seq("ab cd  ef ").toDF("text")
    val toks = df.select(Text.tokens(col("text"))).as[Seq[String]].head()
    assert(toks == Seq("ab", "cd", "ef"))
    val stats = df.select(Text.tokenStats(col("text")): _*)
      .as[(Long, Long, Long)].head()
    assert(stats == ((10L, 3L, 3L)))
    val bpe = Seq("don't stop2!").toDF("text")
      .select(Text.bpeishTokens(col("text"))).as[Seq[String]].head()
    assert(bpe == Seq("don", "'", "t", "stop", "2", "!"))
  }

  test("CountInSet counts set hits and keeps the projection codegen-fused") {
    import org.apache.spark.sql.graftglue.{ColumnBridge, CountInSet}
    def cis(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(CountInSet(ColumnBridge.expression(c), Seq("the", "la")))
    val df = Seq(
      (1, Some(Seq("the", "cat", "the", "la"))), // duplicates each count
      (2, Some(Seq.empty[String])),
      (3, None),                                 // null array -> null
      (4, Some(Seq("x")))).toDF("id", "toks")
    val got = df.select(col("id"), cis(col("toks")).as("n")).collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(1 -> 3L, 2 -> 0L, 3 -> -1L, 4 -> 0L))
    // null ELEMENT is a miss — same as the HOF filter(isin) it replaces
    assert(Seq(Seq("the", null, "qqq")).toDF("toks")
      .select(cis(col("toks"))).as[Long].head() == 1L)
    // the motivating claim: tokens() + CountInSet over a real scan stays
    // inside whole-stage codegen (the HOF form was CodegenFallback)
    val plan = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(cis(Text.tokens(col("text")))).queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"projection not codegen-fused:\n$plan")
  }

  test("langId picks argmax stopword fraction with deterministic ties") {
    val df = Seq("the cat and the dog", "el perro es la cosa", "zzz qqq").toDF("text")
    val got = df.select(Text.langId(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "es", "und"))
  }

  test("fingerprint is order-insensitive on the token set") {
    val df = Seq("a b c", "c b a b").toDF("text")
    val fps = df.select(Text.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("canonicalUrl strips fragments, tracking params, default ports, case") {
    val cases = Seq(
      ("HTTP://Ex.COM:80/A/?utm_source=x&b=2#frag", "http://ex.com/A/?b=2"),
      ("https://Site.com:443/", "https://site.com"),
      ("http://x.com/p/", "http://x.com/p"),
      ("http://x.com/?utm_a=1&utm_b=2", "http://x.com"),
      ("http://x.com/q?a=1&gclid=zz&b=2", "http://x.com/q?a=1&b=2"),
      ("https://x.com:8443/keep:443", "https://x.com:8443/keep:443"),
      ("not a url/", "not a url"))
    val got = cases.map(_._1).toDF("url")
      .select(graft.functions.Text.canonicalUrl(col("url"))).as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("normalize collapses case, punctuation, and whitespace variants") {
    val rows = Seq("Hello,  World!", "hello world", "HELLO   world.")
      .toDF("text").select(graft.functions.Text.normalize(col("text"))).as[String].collect()
    assert(rows.toSet == Set("hello world"))
  }

  test("qualityFeatures computes exact ratios") {
    val df = Seq("the cat, the!").toDF("text")
    val row = df.select(Text.qualityFeatures(col("text")): _*).head()
    assert(row.getLong(0) == 13L)       // n_chars
    assert(row.getLong(1) == 3L)        // n_tokens
    assert(row.getDouble(2) == 2.0 / 13.0) // punct_ratio: ',' and '!'
    assert(row.getDouble(3) == 1.0 / 3.0)  // stopword_ratio: only bare "the"
    assert(row.getDouble(4) == 11.0 / 3.0) // mean_token_len: (3+4+4)/3
  }

  test("UpperTriPairs streams i<j pairs in nested-loop order, nulls mirrored") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graftglue.{ColumnBridge, UpperTriPairs}
    def gen(c: Column) = ColumnBridge.column(UpperTriPairs(ColumnBridge.expression(c)))
    // the exact HOF form bucketPairs replaced, payload = (x, y)
    def hof(c: Column) = explode(flatten(transform(c, (x, i) =>
      transform(slice(c, i + 2, size(c)), y => struct(x.as("__px"), y.as("__py"))))))
    val df = Seq(
      Some(Seq(Option(1L), Option(2L), Option(3L), Option(4L))),
      Some(Seq(Option(7L), None, Option(9L))), // null element still pairs
      Some(Seq(Option(5L))),                   // singleton -> no pairs
      Some(Seq.empty[Option[Long]]),           // empty -> no pairs
      Option.empty[Seq[Option[Long]]])         // null array -> no pairs
      .toDF("ms")
    val got = df.select(gen(col("ms"))).collect().toSeq
    val want = df.select(hof(col("ms"))).collect()
      .map(r => { val s = r.getStruct(0); org.apache.spark.sql.Row(
        if (s.isNullAt(0)) null else s.getLong(0),
        if (s.isNullAt(1)) null else s.getLong(1)) }).toSeq
    assert(got == want)
    // order is i-major then j (the nested-loop order the HOF emitted)
    assert(got.take(6).map(r => (r.get(0), r.get(1))) == Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("exact dedup keeps min id per identical text") {
    val df = Seq((5L, "x y"), (2L, "x y"), (9L, "other")).toDF("doc_id", "text")
    val got = Dedup.exact(df, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 2L), (9L, 1L)))
  }

  test("exactKeepBest keeps the highest-scoring copy, ties by id") {
    val df = Seq((1L, "k1", 10L), (2L, "k1", 30L), (3L, "k1", 30L), (4L, "k2", 5L))
      .toDF("id", "key", "score")
    val got = Dedup.exactKeepBest(df, "id", "key", "score")
      .as[(String, Long, Long, Long)].collect().toSet
    // k1: score tie 30 between ids 2,3 → higher id wins deterministically
    assert(got == Set(("k1", 3L, 30L, 3L), ("k2", 4L, 5L, 1L)))
  }

  test("shingles produces n-k+1 distinct word shingles") {
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val got = Dedup.shingles(df, "doc_id", "text", 3)
      .select("shingle").as[String].collect().toSet
    assert(got == Set("a b c", "b c d"))
    assert(Dedup.shingles(Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 3)
      .count() == 0)
  }

  test("ngramJaccard finds near-duplicate pairs above tau") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccard(df, "doc_id", "text", k = 3, tau = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("editDistancePairs finds close strings inside blocks only") {
    val df = Seq(
      (1L, "acme widget deluxe"), (2L, "acme widget delux"),   // dist 1, same block
      (3L, "acme widget standard"),                             // same block, far
      (4L, "zenith widget deluxe")                              // different block
    ).toDF("id", "name")
    val got = Dedup.editDistancePairs(df, "id", "name", maxDist = 2)
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L))) // 3 too far, 4 blocked apart
  }

  test("fuzzyJoin links rows across sources within blocks only") {
    val l = Seq((1L, "acme widget deluxe"), (2L, "zenith gear")).toDF("l_id", "l_name")
    val r = Seq((10L, "acme widget delux"),   // dist 1, same block
      (11L, "acme widget standard xx"),       // same block, far
      (12L, "other widget deluxe")            // different block
    ).toDF("r_id", "r_name")
    val got = Dedup.fuzzyJoin(l, r, "l_name", "r_name", maxDist = 2)
      .select("l_id", "r_id", "dist").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10L, 1L)))
    // r16 maxBlockPairs guard (the sf1-soak cliff): a block whose pair
    // PRODUCT exceeds the cap is dropped entirely; <= 0 disables
    val guarded = Dedup.fuzzyJoin(l, r, "l_name", "r_name", maxDist = 2,
        maxBlockPairs = 1L)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(guarded.isEmpty) // the acme block is 1 x 2 = 2 pairs > cap
    val off = Dedup.fuzzyJoin(l, r, "l_name", "r_name", maxDist = 2,
        maxBlockPairs = 0L)
      .select("l_id", "r_id", "dist").as[(Long, Long, Long)].collect().toSet
    assert(off == Set((1L, 10L, 1L)))
    // overlapping column names are rejected up front
    intercept[IllegalArgumentException] {
      Dedup.fuzzyJoin(l, l.withColumnRenamed("l_id", "x"), "l_name", "l_name", 1)
    }
  }

  test("ngramJaccardPrefix equals exhaustive ngramJaccard (lossless filter)") {
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "n_inter").as[(Long, Long, Long)].collect().toSet
    val exhaustive = canon(Dedup.ngramJaccard(docs, "doc_id", "text", k = 3, tau = 0.7))
    val prefixed = canon(Dedup.ngramJaccardPrefix(docs, "doc_id", "text", k = 3, tau = 0.7))
    assert(prefixed == exhaustive && prefixed.nonEmpty)
  }

  test("minhash signatures of identical token sets agree; lshPairs finds them") {
    val df = Seq((1L, "a b c d e f"), (2L, "f e d c b a"), (3L, "q w r t y u"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(df, "doc_id", "text", 8)
    val rows = sig.orderBy("id").as[(Long, Seq[String])].collect()
    assert(rows(0)._2 == rows(1)._2) // same token set → same signature
    assert(rows(0)._2 != rows(2)._2)
    val pairs = Dedup.lshPairs(sig, bands = 2, rowsPerBand = 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("lshPairs drops mega-buckets before expanding them — and counts the drop") {
    // 10 identical docs collapse into ONE bucket per band (the mega-bucket);
    // docs 20/21 form a small surviving bucket. With maxBucket=4 only the
    // small pair may appear, and the drop must be visible, not silent:
    // observed metric `lsh_bucket_guard`.
    val docs = ((1L to 10L).map(i => (i, "a b c d e f g h"))
      ++ Seq((20L, "m n o p q r s t"), (21L, "t s r q p o n m"), (99L, "q w r t y u")))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(docs, "doc_id", "text", 8)
    val guarded = Dedup.lshPairs(sig, bands = 2, rowsPerBand = 4, maxBucket = 4)
    // collect on THIS Dataset instance — metrics live on its queryExecution
    // (.as[...] would build a fresh one whose accumulators never run)
    assert(guarded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((20L, 21L)))
    val m = guarded.queryExecution.observedMetrics("lsh_bucket_guard")
    assert(m.getAs[Long]("dropped_buckets") == 2L) // one mega-bucket per band
    assert(m.getAs[Long]("dropped_rows") == 20L)   // 10 members × 2 bands
    assert(m.getAs[Long]("max_bucket") == 10L)
    // under the default cap the same docs pair exhaustively
    val open = Dedup.lshPairs(sig, bands = 2, rowsPerBand = 4)
    assert(open.collect().length == 46) // C(10,2) + the (20,21) pair
    assert(open.queryExecution.observedMetrics("lsh_bucket_guard")
      .getAs[Long]("dropped_buckets") == 0L)
    // total-drop case: AQE's empty-relation propagation elides the metric
    // stage (documented in guardedBuckets); with AQE off it reports exactly.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val megaOnly = ((1L to 10L).map(i => (i, "a b c d e f g h")) :+ ((99L, "q w r t y u")))
        .toDF("doc_id", "text")
      val sh = Dedup.simhash(megaOnly, "doc_id", "text")
      val shGuarded = Dedup.simhashPairs(sh, maxHamming = 2, bands = 4, maxBucket = 4)
      assert(shGuarded.collect().isEmpty) // the only multi-member buckets are mega
      assert(shGuarded.queryExecution.observedMetrics("simhash_bucket_guard")
        .getAs[Long]("dropped_buckets") == 4L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("simhash: identical docs have distance 0, disjoint docs differ") {
    val df = Seq((1L, "a b c d"), (2L, "d c b a"), (3L, "zz yy xx ww")).toDF("doc_id", "text")
    val fps = Dedup.simhash(df, "doc_id", "text").orderBy("id")
      .as[(Long, Long)].collect().map(_._2)
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("simhashPairs finds near-identical docs via hamming bands") {
    val df = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h zz"), // 1 extra token
      (3L, "q w r t y u i o p")).toDF("doc_id", "text")
    val sig = Dedup.simhash(df, "doc_id", "text")
    // pigeonhole completeness needs maxHamming < bands: 30 bands of 2 bits
    val pairs = Dedup.simhashPairs(sig, maxHamming = 20, bands = 30)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
    // hamming 0 for identical token sets
    val same = Dedup.simhashPairs(
      Dedup.simhash(Seq((1L, "x y z"), (2L, "z y x")).toDF("doc_id", "text"),
        "doc_id", "text"), maxHamming = 0, bands = 1)
    assert(same.select("hamming").as[Int].collect().toSeq == Seq(0))
    // recall-breaking parameters are rejected, not silently incomplete
    intercept[IllegalArgumentException] { Dedup.simhashPairs(sig, maxHamming = 20) }
    intercept[IllegalArgumentException] { Dedup.simhashPairs(sig, maxHamming = 3, bands = 7) }
    // contract pin: simhashPairs is pigeonhole-COMPLETE by default — the
    // bucket cap must be opt-in (Int.MaxValue default), because a default
    // cap silently breaks the completeness guarantee this operator exists
    // for. Asserting behavior would need a >4096-member bucket (an 8M-pair
    // expansion — not unit-test material), so pin the default value itself
    // via the compiler-generated default accessor.
    val dflt = Dedup.getClass.getMethod("simhashPairs$default$5")
      .invoke(Dedup).asInstanceOf[Int]
    assert(dflt == Int.MaxValue)
  }

  test("cosineNearDup pairs high-similarity vectors") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.01f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "vec")
    val got = Dedup.cosineNearDup(df, "vec_id", "vec", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
    // the all-pairs cartesian refuses to run above the explicit row cap
    intercept[IllegalArgumentException] {
      Dedup.cosineNearDup(df, "vec_id", "vec", 0.9, maxRows = 2)
    }
    // Long.MaxValue disables the guard without overflowing the limit
    val unguarded = Dedup.cosineNearDup(df, "vec_id", "vec", 0.9,
      maxRows = Long.MaxValue).select("id_a", "id_b").as[(Long, Long)]
    assert(unguarded.collect().toSet == Set((1L, 2L)))
  }

  test("redactPii replaces emails, SSNs, phones, and IPs with tags") {
    val df = Seq(
      "mail bob.smith+x@corp.example.org end",
      "ssn 123-45-6789 phone (415) 555-0123 alt 415-555-0123",
      "server at 10.0.12.250 up",
      "plain text 12345 stays").toDF("text")
    val got = df.select(Text.redactPii(col("text"))).as[String].collect().toSeq
    assert(got == Seq(
      "mail <EMAIL> end",
      "ssn <SSN> phone <PHONE> alt <PHONE>",
      "server at <IP> up",
      "plain text 12345 stays"))
  }

  test("chunk yields overlapping token windows with a short tail") {
    val df = Seq((1L, "a b c d e f g"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val got = Text.chunk(df, "doc_id", "text", chunkSize = 4, stride = 2)
      .as[(Long, Long, String, Long)].collect().toSet
    assert(got == Set(
      (1L, 0L, "a b c d", 4L), (1L, 1L, "c d e f", 4L),
      (1L, 2L, "e f g", 3L), (1L, 3L, "g", 1L),
      (2L, 0L, "x", 1L)))   // empty doc 3 yields nothing
  }

  test("decontaminate counts shared k-grams against the benchmark set") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "quick brown fox jumps again and again today"),
      (3L, "completely unrelated text with no overlap here")).toDF("doc_id", "text")
    val bench = Seq("the quick brown fox jumps high").toDF("text")
    val got = Dedup.decontaminate(corpus, "doc_id", "text", bench, "text",
        k = 3, minHits = 1)
      .as[(Long, Long, Boolean)].collect().toSet
    // bench 3-grams: {the quick brown, quick brown fox, brown fox jumps,
    // fox jumps high}; doc1 shares 3, doc2 shares 2, doc3 none
    assert(got == Set((1L, 3L, true), (2L, 2L, true), (3L, 0L, false)))
  }

  test("decontaminateBloom equals exact decontaminate (sketch probe + verify)") {
    // Real corpus slice: equality here also pins put/probe hash consistency
    // (an insert/probe byte mismatch would surface as false NEGATIVES —
    // missing hits — which the exact-verify join cannot repair).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val exact = Dedup.decontaminate(docs, "doc_id", "text", bench, "text",
        k = 5, minHits = 1)
      .as[(Long, Long, Boolean)].collect().toSet
    // a deliberately undersized sketch (high collision rate) still verifies
    // back to the exact answer — fpp only moves shuffle bytes
    for (fpp <- Seq(0.01, 0.4)) {
      val bloom = Dedup.decontaminateBloom(docs, "doc_id", "text", bench, "text",
          k = 5, minHits = 1, fpp = fpp)
        .as[(Long, Long, Boolean)].collect().toSet
      assert(bloom == exact, s"fpp=$fpp diverged")
    }
    // the sketch probe is a plan-level filter expression, not a join
    val plan = Dedup.decontaminateBloom(docs, "doc_id", "text", bench, "text",
        k = 5, minHits = 1).queryExecution.optimizedPlan
    assert(plan.expressions.exists(_.exists {
      case _: org.apache.spark.sql.graftglue.BloomContains => true
      case _ => false
    }) || plan.exists(_.expressions.exists(_.exists {
      case _: org.apache.spark.sql.graftglue.BloomContains => true
      case _ => false
    })))
  }

  test("dupClusters runs label propagation to fixpoint (long chains converge)") {
    // a 6-node chain (diameter 5 — needs >2 rounds), one triangle sharing
    // no nodes, and an isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(got(_) == 1L))
    assert((10L to 12L).forall(got(_) == 10L))
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(got.size == 11)
  }

  test("repetitionStats measures duplicate and top bigram fractions exactly") {
    val df = Seq(
      (1L, "a b a b a b"),    // bigrams: ab,ba,ab,ba,ab → 5 total, 2 distinct
      (2L, "x y z w"),        // 3 bigrams, all distinct
      (3L, "solo")).toDF("doc_id", "text") // < 2 tokens → no row
    val got = Text.repetitionStats(df, "doc_id", "text", n = 2)
      .as[(Long, Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 5L, 2L, 3.0 / 5.0, 3.0 / 5.0)))
    assert(got(2L) == ((2L, 3L, 3L, 0.0, 1.0 / 3.0)))
    assert(!got.contains(3L))
  }

  test("spanDedup marks later corpus-wide copies of a chunk as duplicates") {
    // window=2: doc 1 = [a b][c d], doc 2 = [a b][x y], doc 3 = [a b][a b]
    val df = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "a b a b"))
      .toDF("doc_id", "text")
    val got = Dedup.spanDedup(df, "doc_id", "text", window = 2)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 0L, 0.0)))        // first owner of "a b"
    assert(got(2L) == ((2L, 2L, 1L, 0.5)))        // "a b" already owned
    assert(got(3L) == ((3L, 2L, 2L, 1.0)))        // both chunks are copies
  }

  test("spanDedupClean rewrites documents with duplicated spans removed") {
    // same fixture as spanDedup: doc 1 owns [a b] and [c d]; doc 2 loses
    // its [a b] but keeps [x y]; doc 3 is entirely duplicate spans
    val df = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "a b a b"))
      .toDF("doc_id", "text")
    val got = Dedup.spanDedupClean(df, "doc_id", "text", window = 2)
      .select("id", "n_chunks", "n_dup_chunks", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 0L, "a b c d")))
    assert(got(2L) == ((2L, 2L, 1L, "x y")))
    // a fully-duplicated doc survives as an EMPTY row, not a silent drop
    assert(got(3L) == ((3L, 2L, 2L, "")))
    // surviving chunks reassemble in chunk order, not hash/collect order
    val many = Seq((1L, Seq.tabulate(8)(i => s"t$i t$i'").mkString(" ")))
      .toDF("doc_id", "text")
    val ct = Dedup.spanDedupClean(many, "doc_id", "text", window = 2)
      .select("clean_text").as[String].head()
    assert(ct == Seq.tabulate(8)(i => s"t$i t$i'").mkString(" "))
  }

  test("substringDedup merges overlapping dup windows into maximal spans, shift-robust") {
    // window=3, stride=1. Doc 1 owns everything; doc 2 repeats the run
    // "a b c d" shifted one token right — the fixed-chunk spanDedup grid
    // would miss it, sliding windows catch starts 1 and 2 and merge them
    // into ONE maximal span [1,5); doc 3 repeats "a b c" twice with a gap
    // (two separate spans); doc 4 is shorter than the window (no windows).
    val df = Seq(
      (1L, "a b c d e f"), (2L, "x a b c d y"),
      (3L, "a b c z z z a b c"), (4L, "p q"))
      .toDF("doc_id", "text")
    val got = Dedup.substringDedup(df, "doc_id", "text", window = 3, stride = 1)
      .as[(Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 6L, 0L, 0L, 0.0)))
    assert(got(2L) == ((2L, 6L, 1L, 4L, 4.0 / 6.0)))
    assert(got(3L) == ((3L, 9L, 2L, 6L, 6.0 / 9.0)))
    assert(got(4L) == ((4L, 2L, 0L, 0L, 0.0)))
  }

  test("substringDedup self-repetition inside one doc counts after the first copy") {
    // "a b a b a b": windows [a b a](0), [b a b](1), [a b a](2), [b a b](3)
    // — starts 2 and 3 duplicate starts 0 and 1, merging to span [2, 6)
    val df = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val got = Dedup.substringDedup(df, "doc_id", "text", window = 3)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(got == ((1L, 6L, 1L, 4L, 4.0 / 6.0)))
  }

  test("substringDedupClean cuts dup spans, keeps survivors in order, merges adjacency") {
    val df = Seq(
      (1L, "a b c d e f"), (2L, "x a b c d y"), (3L, "a b c a b c"))
      .toDF("doc_id", "text")
    val got = Dedup.substringDedupClean(df, "doc_id", "text", window = 3)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 6L, 0L, "a b c d e f"))) // owner: untouched
    assert(got(2L) == ((2L, 6L, 4L, "x y")))         // span [1,5) cut
    // doc 3: dup windows at 0 and 3 touch (pmax == start) → ONE merged
    // span [0,6); fully-duplicated doc survives as an empty row
    assert(got(3L) == ((3L, 6L, 6L, "")))
  }

  test("winnowing: a shared run >= w+k-1 tokens shares a print at ANY offset") {
    // k=8, w=4: guarantee threshold is 11 tokens. The same 11-token run
    // sits at offset 0 in doc 1 and offset 5 in doc 2 — stride-5 sampling
    // would need the offsets to agree mod 5 (they don't: 0 vs 5 ≡ 0, use
    // 3) — winnowing detects regardless.
    val run = (1 to 11).map(i => s"q$i").mkString(" ")
    val df = Seq(
      (1L, s"$run t1 t2 t3"),
      (2L, s"p1 p2 p3 $run")).toDF("doc_id", "text")
    val got = Dedup.winnowedDedup(df, "doc_id", "text", k = 8, w = 4)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._3 == 0L, s"owner doc has dup prints: $got")
    assert(got(2L)._3 >= 1L, s"guarantee violated — no shared print: $got")
  }

  test("winnowing: identical docs share every print; density thins the gram count") {
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val got = Dedup.winnowedDedup(df, "doc_id", "text", k = 8, w = 4)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._3 == 0L && got(2L)._2 == got(2L)._3 && got(2L)._4 == 1.0)
    // density: 33 grams (40 - 8 + 1), expected ~2/(w+1) = 40% selected
    val nPrints = got(1L)._2
    assert(nPrints > 0 && nPrints < 33, s"selection did not thin: $nPrints of 33")
    // a doc shorter than k reports 0 prints rather than vanishing
    val short = Dedup.winnowedDedup(
      Seq((9L, "a b c")).toDF("doc_id", "text"), "doc_id", "text", k = 8, w = 4)
      .as[(Long, Long, Long, Double)].head()
    assert(short == ((9L, 0L, 0L, 0.0)))
  }

  test("decontaminateWinnow flags a shared run >= w+k-1 at any offset; misses stay clean") {
    // k=8, w=4: guarantee threshold is 11 tokens. Doc 1 embeds an 11-token
    // benchmark run at a DIFFERENT offset than the bench doc carries it;
    // doc 2 shares nothing. n_hits counts DISTINCT shared prints.
    val run = (1 to 11).map(i => s"b$i").mkString(" ")
    val corpus = Seq(
      (1L, s"x1 x2 x3 $run x4"),
      (2L, (1 to 20).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val bench = Seq((0L, s"$run y1 y2")).toDF("bid", "btext")
    val got = Dedup.decontaminateWinnow(corpus, "doc_id", "text",
        bench, "btext", k = 8, w = 4, minHits = 1)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 >= 1L && got(1L)._3, s"guarantee violated: $got")
    assert(got(2L) == ((2L, 0L, false)), s"clean doc flagged: $got")
    // minHits above the distinct-print count un-flags without changing hits
    val strict = Dedup.decontaminateWinnow(corpus, "doc_id", "text",
        bench, "btext", k = 8, w = 4, minHits = 1000)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(strict(1L)._2 == got(1L)._2 && !strict(1L)._3)
  }

  test("winnowProbe against a corpus prints index equals decontaminateWinnow " +
       "against the corpus text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val index = Dedup.winnowedPrints(corpus, "doc_id", "text", k = 8, w = 4)
    val probed = Dedup.winnowProbe(delta, "doc_id", "text", index, k = 8, w = 4)
      .as[(Long, Long, Boolean)].collect().toSet
    val direct = Dedup.decontaminateWinnow(delta, "doc_id", "text",
        corpus, "text", k = 8, w = 4)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(probed == direct && probed.nonEmpty)
  }

  test("winnowIndexDelta maintenance identity: maintained prints equal a " +
       "from-scratch rebuild, both diff directions") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // gen A drops % 11 ids and rewrites % 7 texts; gen B is the original
    val genA = docs.filter(col("doc_id") % 11 =!= 3)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" v1"))).otherwise(col("text")))
    def maintain(from: org.apache.spark.sql.DataFrame,
                 to: org.apache.spark.sql.DataFrame) = {
      val diff = graft.operators.Ops.snapshotDiff(from, to, "doc_id", "text")
      val retired = diff.filter(col("status").isin("removed", "changed")).select("id")
      val admitted = to.join(
        diff.filter(col("status").isin("added", "changed")).select("id"),
        col("doc_id") === col("id"), "left_semi")
      Dedup.winnowIndexDelta(
        Dedup.winnowedPrints(from, "doc_id", "text", k = 8, w = 4),
        admitted, "doc_id", "text", retired, k = 8, w = 4)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    assert(rows(maintain(genA, docs)) ==
      rows(Dedup.winnowedPrints(docs, "doc_id", "text", k = 8, w = 4)))
    // reverse direction: docs → genA retires the % 11 ids and re-prints % 7
    assert(rows(maintain(docs, genA)) ==
      rows(Dedup.winnowedPrints(genA, "doc_id", "text", k = 8, w = 4)))
  }

  test("distributionDrift is ~0 on identical snapshots and grows when tokens shift") {
    val a = Seq((1L, "a a b c"), (2L, "b c d d")).toDF("doc_id", "text")
    val same = graft.functions.Lm.distributionDrift(a, a, "text")
      .as[(Long, Long, Long, Double)].head()
    assert(same._1 == 4L && same._2 == 8L && same._3 == 8L)
    assert(math.abs(same._4) < 1e-9, s"identical snapshots drifted: $same")
    // new snapshot floods one token — drift must be strictly positive
    val b = Seq((1L, "a a b c"), (2L, "z z z z z z z z")).toDF("doc_id", "text")
    val moved = graft.functions.Lm.distributionDrift(a, b, "text")
      .as[(Long, Long, Long, Double)].head()
    assert(moved._4 > 0.1, s"flooded snapshot should drift: $moved")
    Caching.drain()
  }

  test("boilerplateClean drops over-common chunks from EVERY doc, unlike span dedup") {
    // "h h" appears in 3 docs (>= minDocFreq=3) → boilerplate, dropped
    // everywhere INCLUDING its first occurrence; "a b" appears in only 2
    // docs → below threshold, kept in BOTH (span dedup would drop the copy)
    val df = Seq(
      (1L, "h h a b"), (2L, "h h a b"), (3L, "h h c d"), (4L, "e f g i"))
      .toDF("doc_id", "text")
    val got = Dedup.boilerplateClean(df, "doc_id", "text",
        window = 2, minDocFreq = 3)
      .select("id", "n_chunks", "n_boiler_chunks", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 1L, "a b")))
    assert(got(2L) == ((2L, 2L, 1L, "a b")))
    assert(got(3L) == ((3L, 2L, 1L, "c d")))
    assert(got(4L) == ((4L, 2L, 0L, "e f g i")))
    // repeats WITHIN one doc don't cross the document-frequency bar...
    val within = Seq((1L, "z z z z z z"), (2L, "p q")).toDF("doc_id", "text")
    val w = Dedup.boilerplateClean(within, "doc_id", "text", window = 2, minDocFreq = 2)
      .select("id", "clean_text").as[(Long, String)].collect().toMap
    assert(w(1L) == "z z z z z z")
    // ...and a fully-boilerplate doc survives with empty clean_text
    val all = Seq((1L, "b b"), (2L, "b b"), (3L, "b b")).toDF("doc_id", "text")
    val a = Dedup.boilerplateClean(all, "doc_id", "text", window = 2, minDocFreq = 2)
      .select("id", "clean_text").as[(Long, String)].collect()
    assert(a.length == 3 && a.forall(_._2 == ""))
  }

  test("dupClusters fails loudly when the round budget cuts off convergence") {
    // diameter-5 chain cannot reach fixpoint in 2 rounds — silent
    // non-fixpoint labels would break the transitive-closure contract
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.dupClusters(pairs, maxRounds = 2)
    }
  }

  test("cosineNearDupLsh candidates verify by exact cosine (subset of all-pairs)") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.99f, 0.01f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)), (4L, Array(0.98f, 0.0f, 0.02f)))
      .toDF("vec_id", "vec")
    val exact = Dedup.cosineNearDup(df, "vec_id", "vec", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.cosineNearDupLsh(df, "vec_id", "vec", tau = 0.9, dim = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // never a false positive (exact verify)
    assert(lsh.nonEmpty)        // near-identical vectors share sign buckets
  }

  test("Lm.unigramCrossEntropy scores a hand-computed corpus") {
    // corpus: "a a b" + "c". N=4 tokens, V=3 distinct.
    // p(a)=(2+1)/7, p(b)=(1+1)/7, p(c)=(1+1)/7 (add-one over N+V).
    val docs = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val out = graft.functions.Lm.unigramCrossEntropy(docs, "doc_id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect()
    def q(p: Double) = BigDecimal(-math.log(p)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val exp1 = ((q(3.0 / 7) * 2 + q(2.0 / 7)) / 3).toDouble
    val exp2 = q(2.0 / 7).toDouble
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    assert(out(0)._2 == 3L && math.abs(out(0)._3 - exp1) < 1e-9)
    assert(out(1)._2 == 1L && math.abs(out(1)._3 - exp2) < 1e-9)
  }

  test("Lm.bigramCrossEntropy scores a hand-computed corpus, order-sensitive") {
    // corpus: "a b a b" + "b a" + "solo". bigrams: doc1 = (a,b)×2, (b,a);
    // doc2 = (b,a). c12: (a,b)=2, (b,a)=2. contexts: c(a·)=2, c(b·)=2.
    // V=3 distinct tokens (a, b, AND doc 3's "solo" — vocabulary counts
    // every corpus token even when the doc contributes no bigrams).
    // p(b|a) = (2+1)/(2+3) = 3/5; p(a|b) = 3/5.
    val docs = Seq((1L, "a b a b"), (2L, "b a"), (3L, "solo")).toDF("doc_id", "text")
    val out = graft.functions.Lm.bigramCrossEntropy(docs, "doc_id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect()
    def q(p: Double) = BigDecimal(-math.log(p)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // single-token docs have no bigrams → absent, like the batch contract
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    assert(out(0)._2 == 3L && math.abs(out(0)._3 - q(0.6).toDouble) < 1e-9)
    assert(out(1)._2 == 1L && math.abs(out(1)._3 - q(0.6).toDouble) < 1e-9)
    // order sensitivity: same bag of words, different order → different xent
    val pair = Seq((1L, "a a b b"), (2L, "a b a b")).toDF("doc_id", "text")
    val xs = graft.functions.Lm.bigramCrossEntropy(pair, "doc_id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect().map(_._3)
    assert(math.abs(xs(0) - xs(1)) > 1e-9)
  }

  test("Lm.importanceWeights favors target-like documents") {
    // target = docs containing mostly "x"; source adds "y"-heavy docs
    val docs = Seq((1L, "x x x", true), (2L, "x x y", true),
      (3L, "y y y", false), (4L, "x y y", false)).toDF("doc_id", "text", "targ")
    val out = graft.functions.Lm.importanceWeights(docs, "doc_id", "text", col("targ"))
      .orderBy("id").as[(Long, Long, java.math.BigDecimal)].collect()
    val byId = out.map(r => r._1 -> r._3.doubleValue()).toMap
    // pure-x doc must rank above pure-y doc; mixed docs in between
    assert(byId(1L) > byId(2L) && byId(2L) > byId(4L) && byId(4L) > byId(3L))
    assert(byId(1L) > 0 && byId(3L) < 0)
  }

  test("Lm.hashedFeatures + linearScore: hand-computed hashed margin") {
    val docs = Seq((1L, "a a b"), (2L, "")).toDF("doc_id", "text")
    val dim = 8
    val feats = graft.functions.Lm.hashedFeatures(docs, "doc_id", "text", dim)
      .as[(Long, Long, Long)].collect()
    // bucket is md5-derived mod dim; "a" twice collapses to tf=2 on one bucket
    val byTok = feats.filter(_._1 == 1L)
    assert(byTok.map(_._3).sum == 3L && byTok.forall(_._2 < dim))
    // empty doc yields no feature rows at all
    assert(!feats.exists(_._1 == 2L))
    // constant weight 0.25 per bucket: score = bias + 0.25 * n_tokens
    val w = spark.range(dim).select(col("id").as("bucket"),
      lit(new java.math.BigDecimal("0.25"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("weight"))
    val scored = graft.functions.Lm.linearScore(
        graft.functions.Lm.hashedFeatures(docs, "doc_id", "text", dim), w,
        new java.math.BigDecimal("0.5"))
      .as[(Long, java.math.BigDecimal, Long)].collect().toSeq
    assert(scored == Seq((1L, new java.math.BigDecimal("1.250000"), 3L)))
  }

  test("incrementalNearDup probes an index without touching corpus text") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines"),
      (3L, "")).toDF("id", "txt")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // = doc 1 → dup
      (11L, "novel text that matches nothing in the corpus"),
      (12L, "")).toDF("id", "txt") // no tokens → no signature → not a dup
    val index = graft.dedup.Dedup.bandKeysOf(corpus, "id", "txt")
    val got = graft.dedup.Dedup.incrementalNearDup(fresh, "id", "txt", index)
      .as[(Long, Boolean)].collect().toMap
    assert(got == Map(10L -> true, 11L -> false, 12L -> false))
    // the probe agrees with the batch path: a fresh doc is dup_of_corpus
    // exactly when lshPairs over (corpus ∪ fresh) pairs it with a corpus doc
    val all = corpus.union(fresh)
    val pairs = graft.dedup.Dedup.lshPairs(
        graft.dedup.Dedup.minhashSignature(all, "id", "txt"), 4, 4)
      .as[(Long, Long)].collect().toSet
    val corpusIds = Set(1L, 2L, 3L)
    val batchDups = pairs.collect {
      case (a, b) if corpusIds(a) && !corpusIds(b) => b
      case (a, b) if corpusIds(b) && !corpusIds(a) => a
    }
    assert(got.filter(_._2).keySet == batchDups)
  }

  test("Lm.trainPerceptron learns separable data with integer-exact updates") {
    val dim = 64
    val docs = Seq((1L, "aa aa"), (2L, "bb")).toDF("doc_id", "text")
    val feats = graft.functions.Lm.hashedFeatures(docs, "doc_id", "text", dim)
    val labels = Seq((1L, 1L), (2L, -1L)).toDF("id", "y")
    val w = graft.functions.Lm.trainPerceptron(feats, labels, epochs = 5)
      .as[(Long, Long)].collect().toMap
    val Seq(ha, hb) = Seq("aa", "bb").map(t =>
      Seq(t).toDF("t").select((Text.md5Hash64(col("t")) % dim))
        .as[Long].head())
    assert(ha != hb) // distinct buckets make the expectation hand-computable
    // epoch 1 (zero cold start): every doc misclassified → w(aa) += y·tf = +2,
    // w(bb) += −1, bias += (+1 −1) = 0. epoch 2: doc1 margin +4, doc2 −1,
    // both correct → early exit; weights are the epoch-1 state exactly.
    assert(w(ha) == 2L && w(hb) == -1L && w(-1L) == 0L)
    assert(w.keys.count(_ >= 0) == 2) // one row per distinct feats bucket
    // the trained weights separate the training set through linearScore
    val wDec = w.toSeq.filter(_._1 >= 0).toDF("bucket", "wi")
      .select(col("bucket"),
        col("wi").cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("weight"))
    val scores = graft.functions.Lm.linearScore(feats, wDec,
        java.math.BigDecimal.valueOf(w(-1L)))
      .select("id", "score").as[(Long, java.math.BigDecimal)].collect().toMap
    assert(scores(1L).signum > 0 && scores(2L).signum < 0)
  }

  test("Bpe.train learns the classic merges on a hand-checkable corpus") {
    // "aaab" x2 + "ab": pairs of round 1: (a,a) n=4, (a,b) n=3 → merge aa.
    // round 2: segmentations "aa a b"(x2), "a b" → pairs (aa,a)=2, (a,b)=3
    // → merge ab... wait (a,b) appears in "aaab"? after aa-merge: [aa,a,b]
    // → pairs (aa,a)=2, (a,b)=2+1=3 → merge ab.
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val (merges, vocab) = graft.functions.Bpe.train(docs, "text", 3)
    val m = merges.orderBy("rank").as[(Long, String, String, String, Long)].collect()
    assert(m(0) == (1L, "a", "a", "aa", 4L))
    assert(m(1) == (2L, "a", "b", "ab", 3L))
    // round 3: "aaab" = [aa, ab], "ab" = [ab] → only pair (aa, ab) n=2
    assert(m(2) == (3L, "aa", "ab", "aaab", 2L))
    val v = vocab.as[(String, Long, String)].collect().map(r => r._1 -> r._3).toMap
    assert(v("aaab") == " aaab " && v("ab") == " ab ")
  }

  test("Bpe.train batched rounds select disjoint pairs and skip overlaps") {
    // three symbol-disjoint pairs land in ONE job round, ranked by count
    val d1 = Seq((1L, "ab ab cd cd cd ef")).toDF("doc_id", "text")
    val m1 = graft.functions.Bpe.train(d1, "text", 3, mergesPerRound = 3)._1
      .orderBy("rank").as[(Long, String, String, String, Long)].collect().toSeq
    assert(m1 == Seq((1L, "c", "d", "cd", 3L), (2L, "a", "b", "ab", 2L),
      (3L, "e", "f", "ef", 1L)))
    // an overlapping runner-up ((b,c) shares b with the round's (a,b))
    // is skipped within the round and trained on the NEXT snapshot
    val d2 = Seq((1L, "abc abc ab")).toDF("doc_id", "text")
    val m2 = graft.functions.Bpe.train(d2, "text", 2, mergesPerRound = 2)._1
      .orderBy("rank").as[(Long, String, String, String, Long)].collect().toSeq
    assert(m2 == Seq((1L, "a", "b", "ab", 3L), (2L, "ab", "c", "abc", 2L)))
  }

  test("Bpe.train at production merge counts runs Q job rounds, not one per merge") {
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val rec = Jobs.recorded(spark) {
      graft.functions.Bpe.train(cust, "c_name", nMerges = 544,
        mergesPerRound = 32, maxRounds = 17)._1
        .orderBy("rank").as[(Long, String, String, String, Long)].collect()
    }
    val (m, jobs) = (rec.value, rec.jobs.size)
    // 150 distinct customer names → 187 merges in 17 rounds (early
    // rounds short of R=32: only ~24 initial symbols exist; later
    // rounds widen as merged symbols join the pool)
    assert(m.length == 187)
    assert(m.map(_._1).toSeq == (1L to 187L))
    assert(m.forall { case (_, l, r, mg, _) => mg == l + r })
    // jobs-per-MERGE is the production claim: a round is one pair-count
    // collect + one checkpoint materialization (+ constant setup), so
    // the whole 187-merge run is bounded by rounds — ~0.4 jobs/merge
    // here, vs >= 2 jobs/merge at R=1 (187 rounds)
    assert(jobs >= 17, s"recorder undercounted: $jobs")
    assert(jobs <= 4 * 17 + 10, s"too many jobs for 17 rounds: $jobs")
  }

  test("Bpe.segment replays merges identically to the trained vocabulary") {
    val docs = Seq((1L, "low lower lowest low"), (2L, "newest new lowest"))
      .toDF("doc_id", "text")
    val (merges, vocab) = graft.functions.Bpe.train(docs, "text", 5)
    val ms = merges.orderBy("rank").select("l", "r")
      .as[(String, String)].collect().toSeq
    val seg = graft.functions.Bpe.segment(docs, "doc_id", "text", ms)
      .select(col("token"), array_join(col("syms"), " ").as("s")).distinct()
      .as[(String, String)].collect().toMap
    val v = vocab.select(col("word"),
        regexp_replace(trim(col("syms")), "  ", " ").as("s"))
      .as[(String, String)].collect().toMap
    assert(seg == v) // projection chain ≡ training fixpoint, word for word
    assert(seg.values.forall(s => !s.contains("  ")))
  }

  // Pins the intermediate cardinalities of the q_incremental_pipeline
  // flagship at sf0.001: the final result is a SINGLE row, which looks like
  // over-filtering until the stages are counted — the documents table is
  // dup-heavy by design, so ~98% of the fresh (added ∪ changed) docs probe
  // as near-dups of the unchanged corpus, and of the two survivors only one
  // is in a budgeted language. Every count here is deterministic (md5-based
  // diff/probe, no RNG), so exact equality is the right assertion.
  test("incremental pipeline stages have the expected cardinalities") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val old = d.filter(col("doc_id") % 11 =!= 3)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" v1"))).otherwise(col("text")))
    val diff = graft.operators.Ops.snapshotDiff(old, d, "doc_id", "text").cache()
    val byStatus = diff.groupBy("status").count()
      .as[(String, Long)].collect().toMap
    // new ⊇ old ids, so `removed` must be absent; added = ids the old
    // snapshot dropped (%11=3), changed = perturbed texts (%7=0 minus the
    // dropped ids)
    assert(byStatus == Map("added" -> 46L, "changed" -> 65L, "unchanged" -> 389L))
    assert(byStatus.getOrElse("added", 0L) ==
      d.filter(col("doc_id") % 11 === 3).count())

    val fresh = d.join(diff.filter(col("status").isin("added", "changed"))
      .select("id"), col("doc_id") === col("id"), "left_semi")
    val corpus = d.join(diff.filter(col("status") === "unchanged")
      .select("id"), col("doc_id") === col("id"), "left_semi")
    val index = Dedup.bandKeysOf(corpus, "doc_id", "text", 16, 4, 4)
    val probed = Dedup.incrementalNearDup(fresh, "doc_id", "text", index, 16, 4, 4)
      .cache()
    val dupCount = probed.filter(col("dup_of_corpus")).count()
    assert(probed.count() == 111L) // = added + changed
    assert(dupCount == 109L) // the dup-heavy regime: only 2 genuinely new docs

    val keep = fresh.join(probed.filter(!col("dup_of_corpus"))
      .select("id"), col("doc_id") === col("id"), "left_semi")
    val keptLangs = keep.select("lang").as[String].collect().toSeq.sorted
    assert(keptLangs == Seq("en", "fr")) // fr is unbudgeted → dropped below
    val sel = graft.operators.Ops.tokenBudgetSample(keep, "doc_id", "lang",
      "text", Map("en" -> 1500L, "zh" -> 500L, "es" -> 400L))
      .as[(Long, String, Long)].collect()
    assert(sel.length == 1 && sel.head._2 == "en")
    // the one kept doc is far under budget → kept in full, not truncated
    assert(sel.head._3 < 1500L)
    diff.unpersist(); probed.unpersist()
  }

  // The index-maintenance identity (VERDICT r6 task 2): drive TWO snapshot
  // generations through the incremental loop and assert the maintained
  // index (retire removed∪changed, append added∪changed) is row-for-row the
  // from-scratch index of the new snapshot — hence probe verdicts from the
  // two indexes are identical on a third batch.
  test("indexDelta maintains the LSH index across snapshot generations") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    // generation A: drop %11=3 docs, perturb %7=0 texts; generation B: all
    // docs as shipped — so A→B has added (%11=3), changed (%7=0 survivors),
    // and B→A (run the diff the other way) exercises `removed` too.
    val genA = d.filter(col("doc_id") % 11 =!= 3)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" v1"))).otherwise(col("text")))
    val genB = d
    val diff = graft.operators.Ops.snapshotDiff(genA, genB, "doc_id", "text")
      .cache()

    val indexA = Dedup.bandKeysOf(genA, "doc_id", "text")
    val retired = diff.filter(col("status").isin("removed", "changed"))
      .select("id")
    val admitted = genB.join(
      diff.filter(col("status").isin("added", "changed")).select("id"),
      col("doc_id") === col("id"), "left_semi")
    val maintained = Dedup.indexDelta(indexA, admitted, "doc_id", "text",
      retired)
    val rebuilt = Dedup.bandKeysOf(genB, "doc_id", "text")
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty)

    // removed-status retirement: diff B→A marks the %11=3 docs removed;
    // retiring them from indexB (and appending A's changed docs) must
    // reproduce indexA exactly.
    val diffBA = graft.operators.Ops.snapshotDiff(genB, genA, "doc_id", "text")
    val retiredBA = diffBA.filter(col("status").isin("removed", "changed"))
      .select("id")
    val admittedBA = genA.join(
      diffBA.filter(col("status").isin("added", "changed")).select("id"),
      col("doc_id") === col("id"), "left_semi")
    val maintainedA = Dedup.indexDelta(
      Dedup.bandKeysOf(genB, "doc_id", "text"), admittedBA, "doc_id", "text",
      retiredBA)
    assert(maintainedA.exceptAll(indexA).isEmpty &&
      indexA.exceptAll(maintainedA).isEmpty)

    // and the downstream claim: probe verdicts agree on a fresh batch
    val batch = d.filter(col("doc_id") % 13 === 5)
      .withColumn("text", concat(col("text"), lit(" tail")))
    val vm = Dedup.incrementalNearDup(batch, "doc_id", "text", maintained)
    val vr = Dedup.incrementalNearDup(batch, "doc_id", "text", rebuilt)
    assert(vm.exceptAll(vr).isEmpty && vr.exceptAll(vm).isEmpty)
    diff.unpersist()
  }

  test("lshRecallReport counts true/candidate/hit pairs exactly") {
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),
      (2L, "aa bb cc dd ee ff gg hh"),     // identical to 1 → true pair + every band collides
      (3L, "aa bb cc dd zz yy xx ww"),     // half-overlap with 1/2 → below tau=0.5 shingle jaccard
      (4L, "qq rr ss tt uu vv")            // disjoint
    ).toDF("doc_id", "text")
    val r = Dedup.lshRecallReport(docs, "doc_id", "text", k = 3, tau = 0.5)
      .as[(Long, Long, Long, Long)].head()
    val (nTrue, nCand, nHit, permille) = r
    assert(nTrue == 1L)     // only the identical pair reaches jaccard ≥ 0.5
    assert(nHit == 1L)      // identical docs share every band → surfaced
    assert(permille == 1000L)
    assert(nCand >= nHit)   // candidates always cover the hits
  }

  test("Vectors dot/norm/cosine are exact on simple cases") {
    val df = Seq((Array(3.0f, 4.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val (d, n, c) = df.select(
      Vectors.dot(col("a"), col("b")), Vectors.norm(col("a")),
      Vectors.cosine(col("a"), col("b"))).as[(Double, Double, Double)].head()
    assert(d == 25.0 && n == 5.0 && c == 1.0)
  }

  test("KmvSet keeps the k smallest DISTINCT values at any partitioning") {
    import org.apache.spark.sql.graftglue.{ColumnBridge, KmvSet}
    // dup-heavy stream: values 0..49 each appearing 40x — a non-distinct
    // bounded top-k would fill all 8 slots with copies of tiny values
    val vals = (0 until 2000).map(i => (i.toLong % 50) * 7L)
    def sketch(parts: Int): Seq[Long] = {
      val df = vals.toDF("h").repartition(parts)
      df.agg(ColumnBridge.column(KmvSet(
          ColumnBridge.expression(col("h")), 8).toAggregateExpression()).as("k"))
        .as[Seq[Long]].head()
    }
    val expected = vals.distinct.sorted.take(8)
    assert(sketch(1) == expected)
    assert(sketch(7) == expected)   // merge path: partial buffers combine
    assert(sketch(32) == expected)
    // fewer distinct values than k -> exact full set
    val tiny = Seq(5L, 5L, 3L, 3L, 9L).toDF("h")
      .agg(ColumnBridge.column(KmvSet(
        ColumnBridge.expression(col("h")), 8).toAggregateExpression()))
      .as[Seq[Long]].head()
    assert(tiny == Seq(3L, 5L, 9L))
  }

  test("softDedupWeights: cluster weights invert copy counts, singletons " +
       "keep full weight, and per-cluster mass is ~equalized") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val w = Dedup.softDedupWeights(docs, "doc_id", "text",
      numHashes = 16, bands = 4, rowsPerBand = 4, maxBucket = 256)
    val rows = w.collect()
    assert(rows.length == docs.count())              // NOTHING dropped
    rows.foreach { r =>
      val n = r.getAs[Long]("n_copies")
      assert(r.getAs[Long]("weight_permille") == 1000L / n)
      // cluster label is the member-min (the keepCanonical rule)
      assert(r.getAs[Long]("cluster") <= r.getAs[Long]("doc_id"))
    }
    // singletons = exactly the docs keepCanonical keeps minus cluster
    // canonicals; consistency: the weighted KEPT mass per cluster is ≤ 1000
    // and ≥ 1000 - (n-1) (integer division loss)
    val singles = rows.filter(_.getAs[Long]("n_copies") == 1L)
    assert(singles.forall(_.getAs[Long]("weight_permille") == 1000L))
    assert(singles.nonEmpty)
    val clustered = rows.filter(_.getAs[Long]("n_copies") > 1L)
    assert(clustered.nonEmpty, "sf data must contain near-dups")
    clustered.groupBy(_.getAs[Long]("cluster")).foreach { case (_, ms) =>
      val mass = ms.map(_.getAs[Long]("weight_permille")).sum
      assert(mass <= 1000L && mass >= 1000L - ms.length + 1)
    }
    // agreement with keepCanonical: kept docs = the weight-bearing
    // canonical representative of each cluster + singletons
    val kept = Dedup.keepCanonical(docs, "doc_id", "text",
        numHashes = 16, bands = 4, rowsPerBand = 4, maxBucket = 256)
      .select("doc_id").as[Long].collect().toSet
    val canonicals = rows.filter(r =>
      r.getAs[Long]("cluster") == r.getAs[Long]("doc_id")).map(_.getAs[Long]("doc_id")).toSet
    assert(canonicals == kept)
  }

  test("perplexityBuckets: balanced rank terciles ordered by cross-entropy") {
    import graft.functions.Lm
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val b = Lm.perplexityBuckets(docs, "doc_id", "text", buckets = 3).collect()
    // every scored doc bucketed 0..2, sizes differ by at most 1 (ntile)
    val sizes = b.groupBy(_.getAs[Long]("bucket")).view.mapValues(_.length).toMap
    assert(sizes.keySet == Set(0L, 1L, 2L))
    assert(sizes.values.max - sizes.values.min <= 1)
    // buckets are ordered: no doc in a lower bucket scores above one in a
    // higher bucket (ties can straddle — compare with <=)
    val maxByB = (0L to 2L).map(i =>
      b.filter(_.getAs[Long]("bucket") == i).map(_.getAs[Double]("xent")).max)
    val minByB = (0L to 2L).map(i =>
      b.filter(_.getAs[Long]("bucket") == i).map(_.getAs[Double]("xent")).min)
    assert(maxByB(0) <= minByB(1) || maxByB(0) == minByB(1))
    assert(maxByB(1) <= minByB(2) || maxByB(1) == minByB(2))
    // bucket assignment matches xent scoring (same rows as q_lm_xent)
    assert(b.length == Lm.unigramCrossEntropy(docs, "doc_id", "text").count())

    // threshold mode (the no-global-window scale path): full-sample exact
    // accuracy must agree with the rank form except AT the cutoffs (ties /
    // ntile's remainder rows straddle) — bound the disagreement
    val t = Lm.perplexityBucketsByThreshold(docs, "doc_id", "text",
        buckets = 3, samplePermille = 1000, accuracy = 100000)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("bucket")).toMap
    val rankMap = b.map(r => r.getAs[Long]("id") -> r.getAs[Long]("bucket")).toMap
    assert(t.keySet == rankMap.keySet)
    val disagree = t.count { case (id, bk) => rankMap(id) != bk }
    assert(disagree <= t.size / 20,
      s"$disagree of ${t.size} docs bucketed differently — threshold mode drifted")
    // and no disagreement is ever by more than one tier
    assert(t.forall { case (id, bk) => math.abs(rankMap(id) - bk) <= 1 })
  }

  test("corpusOverlap: exact when the union fits; estimators hit the " +
       "identical/disjoint endpoints; batch-split independent") {
    val a = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val b = Seq(
      (3L, "alpha beta gamma delta epsilon zeta"), // identical to doc 1
      (4L, "uno dos tres cuatro cinco seis")).toDF("doc_id", "text")
    // sketchK far above the shingle universe -> every statistic is EXACT:
    // doc1's 5-gram set (2 grams of a 6-token doc) is shared, doc2/doc4
    // disjoint -> |A|=|B|=5 grams... compute from the operator's own
    // contract instead: jaccard = shared/union of the DISTINCT gram sets
    val r = Dedup.corpusOverlap(a, b, "text", ngram = 5, sketchK = 1024)
      .collect().head
    val kUsed = r.getAs[Long]("k_used")
    val mBoth = r.getAs[Long]("m_both")
    // exact regime: d_union_est IS the distinct union count
    assert(r.getAs[Long]("d_union_est") == kUsed)
    assert(r.getAs[Long]("jaccard_permille") == mBoth * 1000 / kUsed)
    // doc1 ≡ doc3 contributes shared grams; the other docs are disjoint
    assert(mBoth > 0 && mBoth < kUsed)

    // identical corpora -> jaccard/containment 1000 exactly
    val same = Dedup.corpusOverlap(a, a, "text", ngram = 5, sketchK = 1024)
      .collect().head
    assert(same.getAs[Long]("jaccard_permille") == 1000L)
    assert(same.getAs[Long]("containment_a_permille") == 1000L)
    // disjoint corpora -> all zeros
    val disj = Dedup.corpusOverlap(
      a.filter(col("doc_id") === 2L), b.filter(col("doc_id") === 4L),
      "text", ngram = 5, sketchK = 1024).collect().head
    assert(disj.getAs[Long]("jaccard_permille") == 0L)
    assert(disj.getAs[Long]("m_both") == 0L)

    // split independence: sketching A as one frame vs unioning its halves
    // changes nothing (KMV of a set is order/partition-free)
    val a1 = a.filter(col("doc_id") === 1L)
    val a2 = a.filter(col("doc_id") === 2L)
    val whole = Dedup.corpusOverlap(a, b, "text", 5, 16).collect().head
    val split = Dedup.corpusOverlap(a1.unionByName(a2), b, "text", 5, 16)
      .collect().head
    assert(whole.toSeq == split.toSeq)

    // degenerate: both sides shorter than the shingle width everywhere —
    // an all-zeros row, not an element_at/div-by-zero error
    val tiny = Seq((9L, "too short")).toDF("doc_id", "text")
    val z = Dedup.corpusOverlap(tiny, tiny, "text", 5, 16).collect().head
    assert(z.getAs[Long]("k_used") == 0L &&
      z.getAs[Long]("jaccard_permille") == 0L &&
      z.getAs[Long]("d_union_est") == 0L)
  }
}
