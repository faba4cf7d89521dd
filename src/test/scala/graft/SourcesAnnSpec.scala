package graft

import org.apache.spark.sql.functions._

import graft.similarity.{Ann, Search}
import graft.sources.{Sources, Tables}

class SourcesAnnSpec extends SparkSpec {
  import spark.implicits._

  test("counter / sequence / constant emit expected rows") {
    assert(Sources.counter(spark, 5, 10).as[Long].collect().toSeq == (5L until 10L))
    val seq = Sources.sequence(spark, Seq(1, 2), repeats = 3)
    assert(seq.count() == 6)
    val const = Sources.constant(spark, Map("a" -> 1, "b" -> "x"), 2)
    assert(const.count() == 2 && const.columns.toSet == Set("_emit_id", "a", "b"))
  }

  test("csv and textLines sources read files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src")
    val f = dir.resolve("d.csv")
    java.nio.file.Files.writeString(f, "id,name\n1,a\n2,b\n")
    val csv = Sources.csv(spark, f.toString)
    assert(csv.count() == 2 && csv.columns.toSeq == Seq("id", "name"))
    val txt = Sources.textLines(spark, f.toString)
    assert(txt.count() == 3)
  }

  test("Tables.events converts nanos to a usable timestamp") {
    val ev = Tables.events(spark, sfDir)
    val row = ev.select(col("ts"), col("ts_ns")).head()
    assert(row.getTimestamp(0).getTime / 1000 == row.getLong(1) / 1000000000L)
  }

  test("bruteForceTopK returns exact nearest neighbors with deterministic ranks") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val got = Ann.bruteForceTopK(df.filter(col("vec_id") === 0), df,
        "vec_id", "embedding", 2)
      .select("rank", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 3L)))
  }

  test("ivfTopK with nprobe == nlist is exhaustive and matches brute force") {
    val df = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 31 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 4)
    val brute = Ann.bruteForceTopK(q, df, "vec_id", "embedding", 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(q, df, "vec_id", "embedding", 3, nlist = 8, nprobe = 8)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    assert(ivf == brute)
    // reduced probing returns a subset per query, still correctly ranked
    val partial = Ann.ivfTopK(q, df, "vec_id", "embedding", 3, nlist = 8, nprobe = 2)
    assert(partial.count() <= 12)
  }

  test("graphExport writes node/edge parquet; cypherStatements renders MERGE text") {
    val dir = java.nio.file.Files.createTempDirectory("graft-graph").toString
    val edges = Seq(("u1", "p1", "BOUGHT")).toDF("src_id", "dst_id", "rel")
    graft.operators.Sinks.graphExport(
      Map("user" -> Seq(("u1", "alice")).toDF("id", "name")),
      Map("bought" -> edges), dir)
    assert(spark.read.parquet(s"$dir/nodes_user").count() == 1)
    assert(spark.read.parquet(s"$dir/edges_bought").count() == 1)
    val cy = graft.operators.Sinks.cypherStatements(edges, "User", "Part")
      .as[String].head()
    assert(cy == "MERGE (a:User {id: 'u1'}) MERGE (b:Part {id: 'p1'}) MERGE (a)-[:BOUGHT]->(b);")
    // edges carrying a props column render SET clauses on the relationship
    val withProps = Seq(("u1", "p1", "BOUGHT", Seq(("qty", "3"), ("unit", "ea"))))
      .toDF("src_id", "dst_id", "rel", "props")
    val cyP = graft.operators.Sinks.cypherStatements(
        withProps.select(col("src_id"), col("dst_id"), col("rel"),
          expr("transform(props, p -> struct(p._1 AS k, p._2 AS v))").as("props")),
        "User", "Part")
      .as[String].head()
    assert(cyP == "MERGE (a:User {id: 'u1'}) MERGE (b:Part {id: 'p1'}) " +
      "MERGE (a)-[r:BOUGHT]->(b) SET r.qty = '3' SET r.unit = 'ea';")
    // data containing quotes/backslashes escapes; null prop values are
    // skipped, not allowed to null the whole SET block
    val tricky = Seq(("o'brien", "p\\q", "KNOWS", Seq(("note", "it's"), ("gone", null))))
      .toDF("src_id", "dst_id", "rel", "props")
    val cyT = graft.operators.Sinks.cypherStatements(
        tricky.select(col("src_id"), col("dst_id"), col("rel"),
          expr("transform(props, p -> struct(p._1 AS k, p._2 AS v))").as("props")),
        "User", "User")
      .as[String].head()
    assert(cyT == "MERGE (a:User {id: 'o\\'brien'}) MERGE (b:User {id: 'p\\\\q'}) " +
      "MERGE (a)-[r:KNOWS]->(b) SET r.note = 'it\\'s';")
    // rel/prop keys interpolate OUTSIDE quotes — a data-derived value that
    // isn't an identifier is an injection vector and must abort, not render
    val inj = Seq(("u1", "p1", "X]->(b) DETACH DELETE a//"))
      .toDF("src_id", "dst_id", "rel")
    val ex = intercept[Exception] {
      graft.operators.Sinks.cypherStatements(inj, "User", "Part").collect()
    }
    assert(ex.getMessage.contains("non-identifier"))
    val injKey = Seq(("u1", "p1", "KNOWS", Seq(("k = '' DETACH DELETE a//", "v"))))
      .toDF("src_id", "dst_id", "rel", "props")
    val exK = intercept[Exception] {
      graft.operators.Sinks.cypherStatements(
        injKey.select(col("src_id"), col("dst_id"), col("rel"),
          expr("transform(props, p -> struct(p._1 AS k, p._2 AS v))").as("props")),
        "User", "Part").collect()
    }
    assert(exK.getMessage.contains("non-identifier"))
  }

  test("cypherExecute drives statements through per-partition sessions in batches") {
    import scala.jdk.CollectionConverters._
    import graft.SourcesAnnSpec.FakeBolt
    FakeBolt.clear()
    val edges = (1 to 10).map(i => (s"u$i", s"p$i", "BOUGHT"))
      .toDF("src_id", "dst_id", "rel").repartition(2)
    val stmts = graft.operators.Sinks.cypherStatements(edges, "User", "Part")
    val n = graft.operators.Sinks.cypherExecute(stmts,
      () => new FakeBolt(), batchSize = 3)
    assert(n == 10L)
    assert(FakeBolt.ran.size == 10)
    assert(FakeBolt.ran.asScala.forall(_.startsWith("MERGE (a:User")))
    // every partition's tail batch commits, and sessions always close:
    // 2 partitions × (full batches + tail) — 5 rows per partition at
    // batchSize 3 → 2 commits each
    assert(FakeBolt.commits.get() == 4)
    assert(FakeBolt.closes.get() == 2)
  }

  test("csvWrite round-trips quoted text and typed columns exactly") {
    val base = java.nio.file.Files.createTempDirectory("graft_csvw").toString
    val df = Seq(
      (1L, "plain", 1.5),
      (2L, "comma, inside", -0.125),
      (3L, "quote \" and 'apostrophe'", 3.14159265358979)
    ).toDF("id", "txt", "v")
    graft.operators.Sinks.csvWrite(df, s"$base/t")
    val back = graft.sources.Sources.csv(spark, s"$base/t",
      schemaDdl = Some(df.schema.toDDL))
    // names and types survive (CSV re-read is nullable-by-default, so
    // nullability flags are not part of the contract)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq
      == df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").as[(Long, String, Double)].collect().toSeq
      == df.orderBy("id").as[(Long, String, Double)].collect().toSeq)
  }

  test("compact merges small files without changing content; writeClustered sorts in-file") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val frag = s"$base/frag"; val out = s"$base/compacted"
    // 16 tiny files
    spark.range(0, 1000).toDF("id").repartition(16).write.parquet(frag)
    val (before, after) = graft.operators.Sinks.compact(spark, frag, out,
      targetBytes = 1L << 30)
    assert(before == 16L && after == 1L)
    assert(spark.read.parquet(out).agg(sum("id")).as[Long].head() == 499500L)
    assert(spark.read.parquet(out).count() == 1000L)
    // clustered write: rows within the single output file arrive sorted
    val cl = s"$base/clustered"
    graft.operators.Sinks.writeClustered(
      spark.range(0, 100).toDF("id").withColumn("part", lit("p"))
        .withColumn("v", expr("99 - id")).coalesce(1),
      cl, Seq("part"), Seq("v"))
    val vs = spark.read.parquet(s"$cl/part=p").select("v").as[Long].collect()
    assert(vs.toSeq == vs.sorted.toSeq)
    // compacting a hive-partitioned directory preserves the layout (and
    // therefore downstream partition pruning), not just the rows
    val pfrag = s"$base/pfrag"; val pout = s"$base/pcompacted"
    spark.range(0, 200).toDF("id")
      .withColumn("lang", expr("CASE WHEN id % 2 = 0 THEN 'en' ELSE 'es' END"))
      .withColumn("src", lit("web"))
      .repartition(8).write.partitionBy("lang", "src").parquet(pfrag)
    graft.operators.Sinks.compact(spark, pfrag, pout, targetBytes = 1L << 30)
    val sub = new java.io.File(pout).listFiles().filter(_.isDirectory).map(_.getName)
    assert(sub.toSet == Set("lang=en", "lang=es"))
    assert(new java.io.File(s"$pout/lang=en").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet == Set("src=web"))
    assert(spark.read.parquet(pout).agg(sum("id")).as[Long].head() == 19900L)
    // a directory MIXING a hive-partitioned subdir with a plain one has no
    // inferable layout — compact must refuse loudly, not guess a partitionBy
    val mixed = s"$base/mixed"; val mout = s"$base/mixed_out"
    spark.range(0, 10).toDF("id").coalesce(1).write.parquet(s"$mixed/lang=en")
    spark.range(10, 20).toDF("id").coalesce(1).write.parquet(s"$mixed/plaindir")
    val err = intercept[IllegalArgumentException] {
      graft.operators.Sinks.compact(spark, mixed, mout, targetBytes = 1L << 30)
    }
    assert(err.getMessage.contains("inconsistent partition layout"))
  }

  test("bm25TopK ranks by term rarity and frequency with an id tie-break") {
    val docs = Seq(
      (1L, "spark spark spark common common"),
      (2L, "spark common common common common"),
      (3L, "common common common common common"),
      (4L, "spark spark spark common common")).toDF("doc_id", "text")
    val got = Search.bm25TopK(docs, "doc_id", "text", Seq("spark"), k = 3)
      .select("id", "score").as[(Long, Double)].collect()
    // docs 1 and 4 tie exactly (identical tf/dl) → id ascending; doc 2 has
    // lower tf; doc 3 never matches and is absent
    assert(got.map(_._1).toSeq == Seq(1L, 4L, 2L))
    assert(got(0)._2 == got(1)._2 && got(0)._2 > got(2)._2 && got(2)._2 > 0)
    // stats side: df counts docs, tf counts occurrences, dl is doc length
    val ts = Search.termStats(docs, "doc_id", "text", Seq("spark", "common"))
      .as[(Long, Long, String, Long)].collect().toSet
    assert(ts.contains((1L, 5L, "spark", 3L)) && ts.contains((3L, 5L, "common", 5L)))
  }

  test("stored lexical index: probe ≡ direct BM25, bucket pruning, delta identity") {
    val docs = Seq(
      (1L, "spark spark spark common common"),
      (2L, "spark common common common common"),
      (3L, "common common common common common"),
      (4L, "spark spark spark common common"),
      (5L, "")).toDF("doc_id", "text") // empty doc: no postings, counts in stats
    val dir = java.nio.file.Files.createTempDirectory("lexidx").toString
    Search.writeLexIndex(docs, "doc_id", "text", dir, buckets = 8)
    // store/load identity: shared bm25Tail ⇒ bit-identical scores
    val got = Search.bm25FromIndex(spark, dir, Seq("spark", "common"), k = 5)
      .as[(Long, Double)].collect().toSeq
    val want = Search.bm25TopK(docs, "doc_id", "text", Seq("spark", "common"), k = 5)
      .as[(Long, Double)].collect().toSeq
    assert(got == want && got.nonEmpty)
    // the stats row is read by column NAME: the same values stored as
    // (sumdl, n, buckets) probe identically, where a positional read
    // would silently swap the corpus size and the total length
    val dirR = java.nio.file.Files.createTempDirectory("lexidx_r").toString
    Search.writeLexIndex(docs, "doc_id", "text", dirR, buckets = 8)
    val st0 = spark.read.parquet(s"$dirR/stats").head()
    Seq((st0.getAs[Long]("sumdl"), st0.getAs[Long]("n"), st0.getAs[Int]("buckets")))
      .toDF("sumdl", "n", "buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$dirR/stats")
    assert(Search.bm25FromIndex(spark, dirR, Seq("spark", "common"), k = 5)
      .as[(Long, Double)].collect().toSeq == want)
    // the empty doc reached the corpus stats (n=5), not the postings
    val st = spark.read.parquet(s"$dir/stats").head()
    assert(st.getLong(0) == 5L && st.getLong(1) == 20L)
    // term routing reaches the scan as a PARTITION filter on the
    // bucket-partitioned layout — pruned at file-listing time
    val probe = Search.bm25FromIndex(spark, dir, Seq("spark"), k = 3)
    probe.collect()
    val p = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"expected a bucket partition filter in:\n${p.take(3000)}")
    // df-ceiling stop-term guard: 1000‰ admits everything — today's
    // behavior bit-for-bit; 700‰ drops 'common' (df 4/5 = 800‰) and the
    // result equals a spark-only probe; the dropped term's bucket
    // partition (common → bucket 0, spark → bucket 1 at buckets=8) is
    // never read — pruning happens at file-listing time off the stored
    // terms/ table, before a posting row is touched
    val full = Search.bm25FromIndex(spark, dir, Seq("spark", "common"),
      k = 5, maxDfPermille = 1000).as[(Long, Double)].collect().toSeq
    assert(full == got)
    val guarded = Search.bm25FromIndex(spark, dir, Seq("spark", "common"),
      k = 5, maxDfPermille = 700)
    assert(guarded.as[(Long, Double)].collect().toSeq ==
      Search.bm25FromIndex(spark, dir, Seq("spark"), k = 5)
        .as[(Long, Double)].collect().toSeq)
    guarded.collect()
    val pfSeg = "PartitionFilters: \\[[^\\]]*\\]".r
      .findFirstIn(guarded.queryExecution.executedPlan.toString).getOrElse("")
    assert(pfSeg.nonEmpty &&
      (pfSeg.contains("= 1)") || pfSeg.contains("IN (1)")) &&
      !pfSeg.contains("= 0)") && !pfSeg.contains("IN (0"),
      s"expected a bucket=1-only partition filter, got: $pfSeg")
    // a ceiling that drops EVERY query term yields an empty result, not
    // an error (the all-stop-words query)
    assert(Search.bm25FromIndex(spark, dir, Seq("spark", "common"), k = 5,
      maxDfPermille = 0).count() == 0)
    // maintenance identity: retire + admit ≡ rebuild over the membership.
    // doc 6 is in BOTH sets — the single-call replace: its stored postings
    // retire, its admitted text enters (previously the drop semantics
    // silently deleted a changed doc; the Dedup.indexDelta contract wins)
    val admitted = Seq((6L, "fresh spark doc"), (7L, "common fresh")).toDF("doc_id", "text")
    val retired = Seq(2L, 6L).toDF("id")
    val (posts, doclens, stats, terms) = Search.lexIndexDelta(
      admitted, "doc_id", "text", dir, retired)
    val membership = docs.filter(!$"doc_id".isin(2L, 6L))
      .unionByName(admitted)
    val dir2 = java.nio.file.Files.createTempDirectory("lexidx2").toString
    Search.writeLexIndex(membership, "doc_id", "text", dir2, buckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "dl", "term", "tf", "bucket")
        .as[(Long, Long, String, Long, Long)].collect().toSet
    assert(rows(posts) == rows(spark.read.parquet(s"$dir2/postings")
      .select(col("id"), col("dl"), col("term"), col("tf"),
        col("bucket").cast("long"))))
    assert(doclens.as[(Long, Long)].collect().toSet ==
      spark.read.parquet(s"$dir2/doclens").as[(Long, Long)].collect().toSet)
    assert(stats.select("n", "sumdl").as[(Long, Long)].head() ==
      spark.read.parquet(s"$dir2/stats").select("n", "sumdl")
        .as[(Long, Long)].head())
    // the maintained terms table ≡ the rebuilt one (df + bucket per term)
    assert(terms.select("term", "df", "bucket")
        .as[(String, Long, Long)].collect().toSet ==
      spark.read.parquet(s"$dir2/terms")
        .select(col("term"), col("df"), col("bucket").cast("long"))
        .as[(String, Long, Long)].collect().toSet)
  }

  test("bm25ManyFromIndex matches per-call probes and dedupes repeated terms") {
    val docs = Seq(
      (1L, "spark spark spark common common"),
      (2L, "spark common common common common"),
      (3L, "common common common common common"),
      (4L, "spark rare common")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("lexidx_m").toString
    Search.writeLexIndex(docs, "doc_id", "text", dir, buckets = 8)
    val q = Seq((0L, "spark"), (0L, "common"), (1L, "rare"),
      (1L, "rare")) // repeated term must count once (term SETS)
      .toDF("qid", "term")
    val many = Search.bm25ManyFromIndex(spark, dir, q, "qid", "term", k = 3)
      .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    val per = Seq(0L -> Seq("spark", "common"), 1L -> Seq("rare")).flatMap {
      case (qid, ts) =>
        Search.bm25FromIndex(spark, dir, ts, k = 3)
          .as[(Long, Double)].collect().toSeq.zipWithIndex
          .map { case ((id, sc), i) => (qid, id, sc, i + 1L) }
    }.sorted
    assert(many == per && many.nonEmpty)
    // the df-ceiling guard runs as a distributed semi-join here (query
    // terms never collect): at 800‰, 'common' (df 4/4 = 1000‰) drops from
    // query 0 while spark (750‰) and rare (250‰) survive — per-query
    // results equal per-call probes over the guarded term sets
    val guardedMany = Search.bm25ManyFromIndex(spark, dir, q, "qid", "term",
        k = 3, maxDfPermille = 800)
      .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    val perGuarded = Seq(0L -> Seq("spark"), 1L -> Seq("rare")).flatMap {
      case (qid, ts) =>
        Search.bm25FromIndex(spark, dir, ts, k = 3)
          .as[(Long, Double)].collect().toSeq.zipWithIndex
          .map { case ((id, sc), i) => (qid, id, sc, i + 1L) }
    }.sorted
    assert(guardedMany == perGuarded && guardedMany.nonEmpty)
  }

  test("writeLexDelta writes the maintained index back in the SAFE order; " +
       "probes over the written-back index ≡ a from-scratch rebuild") {
    val docs = Seq(
      (1L, "spark spark spark common common"),
      (2L, "spark common common common common"),
      (3L, "common common common common common"),
      (4L, "spark rare common")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("lexidx_wb").toString
    Search.writeLexIndex(docs, "doc_id", "text", dir, buckets = 8)
    // doc 2 is in BOTH sets — the single-call replace; 3 retires; 5 enters
    val admitted = Seq((5L, "fresh spark doc"), (2L, "spark rare rewrite"))
      .toDF("doc_id", "text")
    val retired = Seq(2L, 3L).toDF("id")
    val (posts, doclens, stats, terms) = Search.lexIndexDelta(
      admitted, "doc_id", "text", dir, retired)
    // the hazard under test: terms/stats lazily read the live
    // postings/doclens dirs, so writeLexDelta must swap them FIRST —
    // tuple-order writes would fail the terms job on deleted files
    Search.writeLexDelta(dir, posts, doclens, stats, terms)
    val membership = docs.filter(!$"doc_id".isin(2L, 3L)).unionByName(admitted)
    val dir2 = java.nio.file.Files.createTempDirectory("lexidx_wb2").toString
    Search.writeLexIndex(membership, "doc_id", "text", dir2, buckets = 8)
    def probe(d: String) =
      Search.bm25FromIndex(spark, d, Seq("spark", "rare"), k = 5)
        .as[(Long, Double)].collect().toSeq
    assert(probe(dir) == probe(dir2) && probe(dir).nonEmpty)
    // the guarded probe consults the SWAPPED terms/ table — a stale
    // terms/ beside new postings would drop the wrong terms
    def guarded(d: String) =
      Search.bm25FromIndex(spark, d, Seq("spark", "common"), k = 5,
          maxDfPermille = 700)
        .as[(Long, Double)].collect().toSeq
    assert(guarded(dir) == guarded(dir2))
    graft.Caching.drain()
  }

  test("stop-term guard cache invalidates across a swapWrite generation; " +
       "a pre-guard layout (no terms/) probes unguarded instead of failing") {
    import graft.similarity.Search
    val docs = Seq(
      (1L, "spark common alpha"),
      (2L, "spark common beta"),
      (3L, "common rare"),
      (4L, "gamma delta")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("lexidx_gc").toString
    Search.writeLexIndex(docs, "doc_id", "text", dir, buckets = 8)
    // generation 1: common df 3/4 = 750‰ > 700 → stopped; the probe
    // populates the generation-keyed cache
    def probe(terms: Seq[String], permille: Int) =
      Search.bm25FromIndex(spark, dir, terms, k = 5, maxDfPermille = permille)
        .as[(Long, Double)].collect().toSeq
    assert(probe(Seq("spark", "common"), 700) == probe(Seq("spark"), 1000))
    val e1 = Search.stopTermCacheEntry(dir)
    assert(e1.exists { case (_, n, p, stop) =>
      n == 4L && p == 700 && stop == Set("common") }, s"cache entry: $e1")
    // maintain generation 2 via the REAL swap path: retire doc 3, admit
    // doc 5 — membership {1,2,4,5}, common df 2/4 = 500‰ ≤ 700 → common
    // must now SURVIVE the guard. A stale cache would keep dropping it.
    val admitted = Seq((5L, "rare fresh")).toDF("doc_id", "text")
    val retired = Seq(3L).toDF("id")
    val (posts, doclens, stats, terms) = Search.lexIndexDelta(
      admitted, "doc_id", "text", dir, retired)
    Search.writeLexDelta(dir, posts, doclens, stats, terms)
    assert(probe(Seq("spark", "common"), 700) ==
      probe(Seq("spark", "common"), 1000),
      "post-swap guarded probe must see the NEW generation's df (common " +
        "is no longer a stop term) — a stale cache entry survived the swap")
    val e2 = Search.stopTermCacheEntry(dir)
    assert(e2.exists { case (_, n, p, stop) =>
      n == 4L && p == 700 && stop.isEmpty }, s"cache entry: $e2")
    assert(e1.get._1 != e2.get._1 || e1.get._4 != e2.get._4,
      "the generation key (terms/ mtime) must rotate across a swapWrite")
    graft.Caching.drain()
    // pre-guard layout: delete terms/ entirely — the guarded DEFAULT must
    // warn-and-fallback to the unguarded probe, not fail at probe time
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/terms"), true)
    assert(probe(Seq("spark", "common"), 990) ==
      probe(Seq("spark", "common"), 1000))
    // multi-query twin over the same pre-guard layout
    val q = Seq((0L, "spark"), (0L, "common")).toDF("qid", "term")
    assert(Search.bm25ManyFromIndex(spark, dir, q, "qid", "term", k = 5)
        .count() > 0)
  }

  test("rrfFuse sums integer reciprocal-rank contributions and cuts top-k") {
    val l1 = Seq((0L, 10L, 1L), (0L, 11L, 2L), (1L, 20L, 1L)).toDF("q", "id", "rank")
    val l2 = Seq((0L, 11L, 1L), (0L, 12L, 2L), (1L, 20L, 1L)).toDF("q", "id", "rank")
    val got = Search.rrfFuse(Seq(l1, l2), "q", "id", "rank", topK = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    // contributions at k0=60: 1e6 div 61 = 16393, 1e6 div 62 = 16129;
    // q0: id11 = 16393+16129 = 32522 wins over id10 = 16393 and id12 =
    // 16129 (cut at topK=2); q1: id20 doubles up
    assert(got == Set((0L, 11L, 32522L, 1L), (0L, 10L, 16393L, 2L),
      (1L, 20L, 32786L, 1L)))
    // equal fused scores tie-break by id ascending — total, engine-stable
    val ta = Seq((0L, 5L, 1L)).toDF("q", "id", "rank")
    val tb = Seq((0L, 3L, 1L)).toDF("q", "id", "rank")
    val tie = Search.rrfFuse(Seq(ta, tb), "q", "id", "rank", topK = 2)
      .orderBy("rank").as[(Long, Long, Long, Long)].collect()
    assert(tie.map(_._2).toSeq == Seq(3L, 5L) && tie.forall(_._3 == 16393L))
    // k0 damping: with k0=0 rank 1 dominates any tail sum of one list
    val head = Search.rrfFuse(Seq(l1, l2), "q", "id", "rank", topK = 1, k0 = 0)
      .filter(col("q") === 0).as[(Long, Long, Long, Long)].head()
    assert(head._2 == 11L && head._3 == 1000000L + 500000L)
  }

  test("lshTopK returns a subset of brute-force candidates with correct local ranks") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.95f, 0.05f, 0.0f)),
      (2L, Array(-1.0f, 0.1f, 0.0f)), (3L, Array(0.9f, 0.0f, 0.1f)))
      .toDF("vec_id", "embedding")
    val got = Ann.lshTopK(df.filter(col("vec_id") === 0), df, "vec_id", "embedding",
      k = 2, dim = 3, numPlanes = 4, bands = 2)
    // bucketing may drop candidates (that's the point); whatever survives must
    // be ranked by true cosine
    val rows = got.select("rank", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(rows.nonEmpty)
    if (rows.contains(1L)) assert(rows(1L) == 1L) // vec 1 is the true nearest
  }

  test("HyperplaneSig matches the HOF sign-bit form and fuses the scan") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.DoubleType
    import graft.functions.Vectors
    val planes = Ann.hyperplanes(numPlanes = 6, dim = 3, seed = 7)
    // the exact HOF form hyperplaneSignature replaced
    def hofSig(vec: Column): Column =
      transform(typedLit(planes), p =>
        when(aggregate(zip_with(vec, p, (x, y) =>
          x.cast(DoubleType) * y.cast(DoubleType)),
          lit(0.0), (acc, x) => acc + x) >= 0.0, lit(1)).otherwise(lit(0)))
    val df = Seq(
      Array(1.0f, 0.2f, -0.5f), Array(-1.0f, 0.0f, 0.0f),
      Array(0.0f, 0.0f, 0.0f), Array(1e-7f, -1e-7f, 1e-7f))
      .toDF("v")
    assert(df.select(Vectors.hyperplaneSignature(col("v"), planes)).collect().toSeq ==
      df.select(hofSig(col("v"))).collect().toSeq)
    // null element / length mismatch -> that plane's bit is 0, both forms
    val odd = Seq(Some(Seq(Option(1.0f), None, Option(2.0f))),
      Some(Seq(Option(1.0f)))).toDF("v")
    assert(odd.select(Vectors.hyperplaneSignature(col("v"), planes)).collect().toSeq ==
      odd.select(hofSig(col("v"))).collect().toSeq)
    // the signature scan over a real corpus stays codegen-fused
    val plan = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(Vectors.hyperplaneSignature(col("embedding"),
        Ann.hyperplanes(8, 64, 42)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"signature scan not fused:\n$plan")
  }

  test("vocabulary ranks tokens by corpus frequency with token tie-break") {
    val docs = Seq((1L, "b a b"), (2L, "a c c")).toDF("doc_id", "text")
    val got = Search.vocabulary(docs, "doc_id", "text")
      .as[(String, Long, Long, Long)].collect().toSet
    // a: 2 occurrences in 2 docs; b: 2 in 1; c: 2 in 1 — ties rank a < b < c
    assert(got == Set(("a", 2L, 2L, 1L), ("b", 2L, 1L, 2L), ("c", 2L, 1L, 3L)))
  }

  test("tfIdfKeywords surfaces rare-but-frequent-in-doc tokens first") {
    val docs = Seq(
      (1L, "common common rare rare rare"),
      (2L, "common other"),
      (3L, "common thing")).toDF("doc_id", "text")
    val got = Search.tfIdfKeywords(docs, "doc_id", "text", m = 2)
      .filter(col("id") === 1L).orderBy("rnk")
      .select("token").as[String].collect().toSeq
    // 'common' is in every doc → idf = ln(1) = 0; 'rare' dominates
    assert(got.head == "rare")
    assert(got.size == 2)
  }

  test("kmeans separates two obvious clusters and is deterministic") {
    val pts = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array(base + i * 1e-4f, base, base))
    }
    val df = pts.toDF("vec_id", "embedding")
    val a = graft.similarity.Clustering.kmeans(df, "vec_id", "embedding", k = 2, rounds = 3)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val byCluster = a.groupBy(_._2).view.mapValues(_.map(_._1 % 2).toSet).toMap
    // each k-means cluster contains only one parity class (the two blobs)
    assert(byCluster.size == 2 && byCluster.values.forall(_.size == 1))
    val b = graft.similarity.Clustering.kmeans(df, "vec_id", "embedding", k = 2, rounds = 3)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq) // bit-deterministic across runs
  }

  test("QuantizeVec/SqDistLit match their HOF forms and keep assignment fused") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graftglue.{ColumnBridge, QuantizeVec, SqDistLit}
    import org.apache.spark.sql.types.DoubleType
    val cv = Array(3.0, -1.0, 2.0)
    def nat(c: Column) = ColumnBridge.column(SqDistLit(ColumnBridge.expression(c), cv))
    def hof(c: Column) = aggregate(zip_with(c, typedLit(cv), (a, b) => a - b),
      lit(0.0), (acc, d) => acc + d * d)
    val dv = Seq(
      Some(Seq(Option(1.0), Option(2.5), Option(-3.0))),
      Some(Seq(Option(-1.5), None, Option(0.0))), // null element -> null
      Some(Seq(Option(1.0), Option(2.0))),        // length mismatch -> null
      Option.empty[Seq[Option[Double]]])          // null array -> null
      .toDF("v")
    val pairs = dv.select(nat(col("v")).as("a"), hof(col("v")).as("b")).collect()
    pairs.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    assert(pairs.head.getDouble(0) == (1.0 - 3.0) * (1.0 - 3.0) +
      (2.5 + 1.0) * (2.5 + 1.0) + (-3.0 - 2.0) * (-3.0 - 2.0))

    def qnat(c: Column) = ColumnBridge.column(QuantizeVec(ColumnBridge.expression(c), 4.0))
    def qhof(c: Column) = transform(c, x => floor(x.cast(DoubleType) * 4.0).cast(DoubleType))
    // float input (the embedding column type) and double input both mirror
    val fv = Seq(Some(Seq(Option(0.3f), None, Option(-1.1f))),
      Option.empty[Seq[Option[Float]]]).toDF("v")
    assert(fv.select(qnat(col("v"))).collect().toSeq ==
      fv.select(qhof(col("v"))).collect().toSeq)
    assert(dv.select(qnat(col("v"))).collect().toSeq ==
      dv.select(qhof(col("v"))).collect().toSeq)

    // the motivating claim: the k-means assignment over a real scan is ONE
    // whole-stage-codegen projection (the HOF forms were CodegenFallback)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = Seq(0 -> Array.fill(64)(1.0), 1 -> Array.fill(64)(-1.0))
    val plan = graft.similarity.Clustering.withCluster(emb, "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"assignment not codegen-fused:\n$plan")
  }

  test("Pq ADC ranks an obvious nearest neighbor first and is deterministic") {
    // two well-separated blobs in each subspace: ADC distances must rank
    // same-blob vectors above cross-blob ones even through 1-byte codes
    val pts = (0 until 16).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.fill(8)(base + i * 1e-4f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val cbs = graft.similarity.Pq.trainCodebooks(df, "vec_id", "embedding",
      dim = 8, m = 2, k = 2, rounds = 2)
    assert(cbs.length == 2 && cbs.forall(_.forall(_._2.length == 4)))
    val top = graft.similarity.Pq.adcTopK(df.filter($"vec_id" < 2), df,
        "vec_id", "embedding", cbs, topK = 5)
      .as[(Long, Long, Long, Double)].collect()
    // every query's top-5 neighbors share its blob (parity)
    assert(top.forall { case (q, _, n, _) => q % 2 == n % 2 })
    val again = graft.similarity.Pq.adcTopK(df.filter($"vec_id" < 2), df,
        "vec_id", "embedding", cbs, topK = 5)
      .as[(Long, Long, Long, Double)].collect()
    assert(top.toSeq == again.toSeq)

    // IVF-routed ADC: probing every cell is EXACTLY the exhaustive scan
    // (same scores, same tie-break) — the q_pq_ivf oracle identity
    val routedAll = graft.similarity.Pq.ivfAdcTopK(df.filter($"vec_id" < 2), df,
        "vec_id", "embedding", cbs, topK = 5, nlist = 4, nprobe = 4)
      .as[(Long, Long, Long, Double)].collect()
    assert(routedAll.toSeq == top.toSeq)
    // nprobe < nlist scans a fraction of the codes: results come only from
    // probed cells (a subset of the exhaustive candidates, ranks re-packed)
    val routed1 = graft.similarity.Pq.ivfAdcTopK(df.filter($"vec_id" < 2), df,
        "vec_id", "embedding", cbs, topK = 5, nlist = 4, nprobe = 1)
      .as[(Long, Long, Long, Double)].collect()
    val exhaustive = top.map { case (q, _, n, d) => (q, n, d) }.toSet
    assert(routed1.nonEmpty)
    // every routed (query, neighbor, score) exists in SOME exhaustive
    // scoring (scores agree where both scan the pair)
    val allScores = graft.similarity.Pq.adcTopK(df.filter($"vec_id" < 2), df,
        "vec_id", "embedding", cbs, topK = 16)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (q, _, n, d) => (q, n, d) }.toSet
    assert(routed1.forall { case (q, _, n, d) => allScores.contains((q, n, d)) })
    intercept[IllegalArgumentException] {
      graft.similarity.Pq.ivfAdcTopK(df, df, "vec_id", "embedding", cbs,
        topK = 5, nlist = 4, nprobe = 5)
    }

    // exact re-rank: with the shortlist widened to the whole corpus, the
    // reranked top-k IS the exact-L2 top-k — computed independently here
    // with the interpreted Vectors.dot (a different codepath than the
    // codegen fdot the operator uses)
    val wide = graft.similarity.Pq.adcTopK(df.filter($"vec_id" < 2), df,
      "vec_id", "embedding", cbs, topK = 16)
    val rr = graft.similarity.Pq.rerank(wide, df.filter($"vec_id" < 2), df,
        "vec_id", "embedding", topK = 5)
      .as[(Long, Long, Long, Double)].collect()
    val vecs = pts.toMap
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * x - 2.0 * x * y + y.toDouble * y }.sum
    val want = (0L until 2L).flatMap { q =>
      pts.filter(_._1 != q)
        .map { case (n, v) => (n, d2(vecs(q), v)) }
        .sortBy { case (n, d) => (d, n) }.take(5).zipWithIndex
        .map { case ((n, _), i) => (q, i + 1L, n) }
    }.toSet
    assert(rr.map { case (q, r, n, _) => (q, r, n) }.toSet == want)
    // reranked scores are exact L2 (not ADC approximations)
    assert(rr.forall { case (q, _, n, d) => math.abs(d - d2(vecs(q), vecs(n))) < 1e-9 })
  }

  test("persistent IVFPQ index: probe ≡ in-memory ADC, routing prunes " +
       "partitions, delta-maintained ≡ re-encoded under the frozen model") {
    val pts = (0 until 16).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.fill(8)(base + i * 1e-4f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    graft.similarity.Pq.writeIndex(df, "vec_id", "embedding",
      dim = 8, m = 2, k = 2, dir = dir, nlist = 4)
    // training is bit-deterministic, so retraining = the stored model
    val cbs = graft.similarity.Pq.trainCodebooks(df, "vec_id", "embedding",
      dim = 8, m = 2, k = 2, rounds = 2)
    // probe with nprobe = nlist ≡ the exhaustive in-memory ADC scan
    // (sorted compare: cross-query collect order is partition-arrival
    // order — the identity is about content + within-query ranks)
    val got = graft.similarity.Pq.probeIndex(df.filter($"vec_id" < 2),
        "vec_id", "embedding", dir, topK = 5, nprobe = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val want = graft.similarity.Pq.adcTopK(df.filter($"vec_id" < 2), df,
        "vec_id", "embedding", cbs, topK = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(got == want && got.nonEmpty)
    // nprobe = 1 routing reaches the scan as a PARTITION filter on the
    // cell-partitioned layout — pruned at file-listing time
    val pruned = graft.similarity.Pq.probeIndex(df.filter($"vec_id" < 2),
      "vec_id", "embedding", dir, topK = 5, nprobe = 1)
    pruned.collect()
    val p = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      s"expected a cell partition filter in:\n${p.take(3000)}")
    // maintenance identity: retire + admit under the stored model ≡
    // re-encoding the maintained membership from scratch (same model)
    val fresh = (16 until 20).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.fill(8)(base + i * 1e-4f))
    }
    val admitted = fresh.toDF("vec_id", "embedding")
    val retired = Seq(3L, 4L).toDF("id")
    val maintained = graft.similarity.Pq.indexCodesDelta(
        admitted, "vec_id", "embedding", dir, retired)
      .as[(Long, String, Seq[Int])].collect().toSet
    val membership = df.filter(!$"vec_id".isin(3L, 4L)).unionByName(admitted)
    // the rebuild must route with the STORED (trained — the r12 default)
    // centroids: the identity under test is maintenance under the frozen
    // model, and the model/coarse parquet IS that model
    val cents = spark.read.parquet(s"$dir/model/coarse")
      .as[(String, Seq[Float])].collect().toSeq.sortBy(_._1)
    val celled = membership.select(col("vec_id"), col("embedding"),
      graft.similarity.Ann.nearestCell(cents, col("embedding")).as("cell"))
    val rebuilt = graft.similarity.Pq.encode(celled, "vec_id", "embedding",
        cbs, carry = Seq("cell"))
      .select(col("id"), col("cell"), col("codes"))
      .as[(Long, String, Seq[Int])].collect().toSet
    assert(maintained == rebuilt && maintained.size == 18)
  }

  test("trained coarse quantizer: probe identity unchanged, exactly nlist " +
       "cells (pad path), balanced cells on clustered data") {
    import graft.similarity.{Ann, Pq}
    // 4 well-separated clusters of 16 points each — the regime where the
    // md5-order document pick lands multiple centroids in one cluster and
    // leaves other clusters to pile into someone else's cell
    val pts = (0 until 64).map { i =>
      val c = i % 4
      val v = Array.fill(8)(0.001f * (i % 7))
      v(c * 2) = 10.0f + 0.01f * (i / 4)
      (i.toLong, v)
    }
    val df = pts.toDF("vec_id", "embedding")
    val trained = Ann.trainedCentroids(df, "vec_id", "embedding", nlist = 4)
    assert(trained.map(_._1) == Seq("t00000", "t00001", "t00002", "t00003"))
    def cellCounts(cents: Seq[(String, Seq[Float])]): Map[String, Long] =
      df.select(Ann.nearestCell(cents, col("embedding")).as("cell"))
        .groupBy("cell").count().as[(String, Long)].collect().toMap
    val tc = cellCounts(trained)
    val uc = cellCounts(Ann.coarseCentroids(df, "vec_id", "embedding", 4))
    // k-means finds the 4 true clusters exactly (deterministic seeding on
    // fixed data); the doc-pick path is whatever md5-order luck gives it
    assert(tc.values.toSeq.sorted == Seq(16L, 16L, 16L, 16L),
      s"trained cells unbalanced: $tc (untrained: $uc)")
    assert(tc.values.max <= uc.values.max,
      "training made cell balance worse than the md5-order pick")
    // probe identity: at nprobe = nlist the stored-index probe result is
    // centroid-independent — trained and untrained builds agree
    def probeAll(trainedFlag: Boolean): Seq[(Long, Long, Long, Double)] = {
      val dir = java.nio.file.Files.createTempDirectory("pqtrained").toString
      Pq.writeIndex(df, "vec_id", "embedding", dim = 8, m = 2, k = 2,
        dir = dir, nlist = 4, trained = trainedFlag)
      Pq.probeIndex(df.filter($"vec_id" < 2), "vec_id", "embedding",
          dir, topK = 5, nprobe = 4)
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    }
    assert(probeAll(trainedFlag = true) == probeAll(trainedFlag = false))
    // the full lifecycle under a TRAINED model: delta maintenance reads
    // the stored (trained) centroids, swapWrite rewrites the codes, and
    // the maintained probe ≡ exhaustive ADC over the maintained
    // membership under the frozen model — the G47 identity law holds for
    // trained builds end to end
    val dirT = java.nio.file.Files.createTempDirectory("pqtrained_d").toString
    Pq.writeIndex(df.filter($"vec_id" < 48), "vec_id", "embedding",
      dim = 8, m = 2, k = 2, dir = dirT, nlist = 4, trained = true)
    val admitted = df.filter($"vec_id" >= 48)
    val retired = Seq(5L, 6L).toDF("id")
    graft.operators.Sinks.swapWrite(
      Pq.indexCodesDelta(admitted, "vec_id", "embedding", dirT, retired),
      s"$dirT/codes", Seq("cell"))
    val maintained = df.filter(!$"vec_id".isin(5L, 6L))
    val cbsT = Pq.trainCodebooks(df.filter($"vec_id" < 48), "vec_id",
      "embedding", dim = 8, m = 2, k = 2, rounds = 2)
    val gotT = Pq.probeIndex(df.filter($"vec_id" < 2), "vec_id", "embedding",
        dirT, topK = 5, nprobe = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val wantT = Pq.adcTopK(df.filter($"vec_id" < 2), maintained,
        "vec_id", "embedding", cbsT, topK = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(gotT == wantT && gotT.nonEmpty)
    // pad path: more cells than distinct training survivors — empty-cluster
    // slots refill with md5-order picks so nlist is honored exactly
    val tiny = Seq((0L, Array.fill(8)(1.0f)), (1L, Array.fill(8)(-1.0f)),
      (2L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val padded = Ann.trainedCentroids(tiny, "vec_id", "embedding", nlist = 5)
    assert(padded.size == 5 && padded.map(_._1).distinct.size == 5)
    // deterministic hash-mod sampling still yields a full centroid set
    val sampled = Ann.trainedCentroids(df, "vec_id", "embedding", nlist = 4,
      sampleMod = 4)
    assert(sampled.size == 4)
  }

  test("OPQ-rotated index: the stored rotation applies automatically at " +
       "probe AND delta time ≡ hand-rotating everything consistently") {
    import graft.similarity.{Pca, Pq}
    val pts = (0 until 16).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.tabulate(8)(j => base + i * 1e-4f + j * 0.01f))
    }
    val df = pts.toDF("vec_id", "embedding")
    // the PRODUCTION rotation: data-derived principal axes (the SQL
    // oracle uses a fixed permutation instead; this pins the Jacobi path)
    val rot = Pca.rotation(df, "embedding", dim = 8)
    val dir = java.nio.file.Files.createTempDirectory("pqidx_rot").toString
    Pq.writeIndex(df, "vec_id", "embedding", dim = 8, m = 2, k = 2,
      dir = dir, nlist = 4, rotation = Some(rot))
    // probe at nprobe = nlist: callers pass RAW vectors; the result must
    // equal the exhaustive ADC scan where EVERYTHING was rotated by hand
    // collect() row order across queries is partition-arrival order, not
    // deterministic — compare sorted (the per-query rank already totals
    // the WITHIN-query order, which is what the identity is about)
    val got = Pq.probeIndex(df.filter($"vec_id" < 2), "vec_id", "embedding",
        dir, topK = 5, nprobe = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val dfR = Pca.rotateAll(df, "embedding", rot)
    val cbsR = Pq.trainCodebooks(dfR, "vec_id", "embedding",
      dim = 8, m = 2, k = 2, rounds = 2)
    val want = Pq.adcTopK(dfR.filter($"vec_id" < 2), dfR,
        "vec_id", "embedding", cbsR, topK = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(got == want && got.nonEmpty)
    // a rotated index must NOT answer like an unrotated one (the rotation
    // is load-bearing, not a no-op): PQ codes differ under rotation
    val dirPlain = java.nio.file.Files.createTempDirectory("pqidx_plain").toString
    Pq.writeIndex(df, "vec_id", "embedding", dim = 8, m = 2, k = 2,
      dir = dirPlain, nlist = 4)
    val plainScores = Pq.probeIndex(df.filter($"vec_id" < 2), "vec_id",
        "embedding", dirPlain, topK = 5, nprobe = 4)
      .select("adc2").as[Double].collect().toSet
    assert(got.map(_._4).toSet != plainScores,
      "rotated and plain indexes scored identically — rotation not applied")
    // delta maintenance rotates the ADMITTED side with the stored model
    val admitted = (16 until 20).map { i =>
      (i.toLong, Array.tabulate(8)(j => 1.0f + i * 1e-4f + j * 0.01f))
    }.toDF("vec_id", "embedding")
    val maintained = Pq.indexCodesDelta(admitted, "vec_id", "embedding",
        dir, Seq(3L).toDF("id"))
      .as[(Long, String, Seq[Int])].collect().toSet
    val membershipR = Pca.rotateAll(
      df.filter($"vec_id" =!= 3L).unionByName(admitted), "embedding", rot)
    // rebuild routes with the STORED (trained-by-default) centroids —
    // frozen-model identity, same device as the unrotated delta test
    val centsR = spark.read.parquet(s"$dir/model/coarse")
      .as[(String, Seq[Float])].collect().toSeq.sortBy(_._1)
    val celledR = membershipR.select(col("vec_id"), col("embedding"),
      graft.similarity.Ann.nearestCell(centsR, col("embedding")).as("cell"))
    val rebuilt = Pq.encode(celledR, "vec_id", "embedding", cbsR,
        carry = Seq("cell"))
      .select(col("id"), col("cell"), col("codes"))
      .as[(Long, String, Seq[Int])].collect().toSet
    assert(maintained == rebuilt && maintained.size == 19)
  }

  test("semDedup flags exactly the later ids with a high-cosine cluster-mate") {
    // three tight bundles (within-cosine ≈ 1, across ≤ cos(2.0) ≈ -0.42);
    // expectation derives from the ACTUAL cluster assignment, so this pins
    // the self-join aliasing (a degenerate trivially-true cluster join
    // would mark cross-cluster dups too)
    val pts = (0 until 12).map { i =>
      val ang = (i / 4) * 2.0 + (i % 4) * 1e-3
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat, 0.0f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val got = graft.similarity.Clustering
      .semDedup(df, "vec_id", "embedding", k = 3, tau = 0.95)
      .as[(Long, Long, Boolean)].collect()
    val cluster = got.map(r => r._1 -> r._2).toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val dot = x.zip(y).map { case (a, b) => a.toDouble * b.toDouble }.sum
      val n = math.sqrt(x.map(a => a.toDouble * a).sum) *
        math.sqrt(y.map(a => a.toDouble * a).sum)
      if (n == 0) 0.0 else dot / n
    }
    val byId = pts.toMap
    val expect = pts.map(_._1).filter { idB =>
      pts.exists { case (idA, va) =>
        idA < idB && cluster(idA) == cluster(idB) && cos(va, byId(idB)) >= 0.95
      }
    }.toSet
    assert(got.filter(_._3).map(_._1).toSet == expect)
    assert(expect.nonEmpty) // the bundles must actually produce dups
  }
}

/** Counting fake bolt session for the cypherExecute spec — statics are
  * shared across "executors" because local-mode tasks run in one JVM.
  */
object SourcesAnnSpec {
  class FakeBolt extends graft.operators.Sinks.CypherSession with Serializable {
    override def run(statement: String): Unit = FakeBolt.ran.add(statement)
    override def commit(): Unit = FakeBolt.commits.incrementAndGet()
    override def close(): Unit = FakeBolt.closes.incrementAndGet()
  }
  object FakeBolt {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val commits = new java.util.concurrent.atomic.AtomicInteger(0)
    val closes = new java.util.concurrent.atomic.AtomicInteger(0)
    def clear(): Unit = { ran.clear(); commits.set(0); closes.set(0) }
  }
}
