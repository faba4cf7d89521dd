package graft

import org.apache.spark.sql.functions._

import graft.json.MtlParser
import graft.operators.Ops
import graft.pipeline.ConfigPipeline

class MtlConfigSpec extends SparkSpec {
  import spark.implicits._

  private val program = MtlParser.parse(
    """shout IS A PYTHON FUNCTION IMPORTED FROM some.module.shout;
      |QUERY q IS SELECT o.owner_name AS owner, shout(i.sku) AS sku, i.qty AS qty
      |FROM obj START AT TOP
      |GO DOWN UNTIL HAS KEY owner_name AS o
      |GO DOWN UNTIL HAS KEY sku AS i;
      |IN QUERY q owner IS A UNIQUE PROPERTY name OF ENTITY user;
      |IN QUERY q sku IS A PROPERTY item_sku OF ENTITY user NAMED BY owner;
      |IN QUERY q user NAMED BY owner IS RELATED TO part NAMED BY sku AS bought;
      |""".stripMargin)

  private def doc = Seq((1L, "alice", Seq(("s1", 2), ("s2", 3))))
    .toDF("id", "raw_owner", "raw_items")
    .select(col("id"), struct(
      struct(col("raw_owner").as("owner_name")).as("owner"),
      transform(col("raw_items"),
        x => struct(x.getField("_1").as("sku"), x.getField("_2").as("qty"))).as("items"))
      .as("payload"))

  test("MTL parse builds queries, properties, relations; functions apply") {
    val q = program.queries("q")
    assert(q.travs.map(_.label) == Seq("o", "i"))
    assert(q.selections.map(_.alias) == Seq("owner", "sku", "qty"))
    assert(q.selections(1).fn.contains("shout"))
    assert(program.properties.size == 2 && program.relations.size == 1)
    val rows = MtlParser.run(doc, program, "q",
      Map("shout" -> (c => upper(c))))
    assert(rows.as[(String, String, Int)].collect().toSet ==
      Set(("alice", "S1", 2), ("alice", "S2", 3)))
  }

  test("MTL entity and relation tables") {
    val fns = Map("shout" -> ((c: org.apache.spark.sql.Column) => upper(c)))
    val ents = MtlParser.entityTables(doc, program, "q", fns)
    assert(ents("user").columns.toSet == Set("name", "item_sku"))
    assert(ents("user").count() == 1)
    val rels = MtlParser.relationTables(doc, program, "q", fns)
    assert(rels.head.select("src_id", "dst_id", "rel")
      .as[(String, String, String)].collect().toSet ==
      Set(("alice", "S1", "bought"), ("alice", "S2", "bought")))
    // no WITH PROPERTY asserted → props present but empty (union-stable)
    assert(rels.head.select(size($"props")).as[Int].collect().forall(_ == 0))
  }

  test("applyRule derives a relation from a two-atom body join") {
    val edges = Seq(("a", "b", "next"), ("b", "c", "next"), ("c", "d", "other"))
      .toDF("src_id", "dst_id", "rel")
    val out = MtlParser.applyRule(edges, "next", "next", "skip2")
      .as[(String, String, String)].collect().toSet
    assert(out == Set(("a", "c", "skip2"))) // other-rel atoms don't fire
    val chained = MtlParser.applyRule(edges, "next", "other", "mixed")
      .as[(String, String, String)].collect().toSet
    assert(chained == Set(("b", "d", "mixed")))
  }

  test("MTL WHERE, compound conditions, and GO UP compile and filter") {
    val p = MtlParser.parse(
      """QUERY q IS SELECT i.sku AS sku, o.owner_name AS owner
        |FROM obj START AT TOP
        |GO DOWN UNTIL (HAS KEY sku AND NOT HAS KEY owner_name) AS i
        |GO UP UNTIL HAS KEY owner AS pay
        |GO DOWN UNTIL HAS KEY owner_name AS o
        |WHERE i.qty >= 3;""".stripMargin)
    val rows = MtlParser.run(doc, p, "q")
    assert(rows.as[(String, String)].collect().toSet == Set(("s2", "alice")))
  }

  test("START AT <condition> AS label anchors like an initial GO DOWN") {
    val p = MtlParser.parse(
      """QUERY q IS SELECT o.owner_name AS owner, i.sku AS sku
        |FROM obj START AT HAS KEY owner_name AS o
        |GO DOWN UNTIL HAS KEY sku AS i;""".stripMargin)
    val viaGoDown = MtlParser.parse(
      """QUERY q IS SELECT o.owner_name AS owner, i.sku AS sku
        |FROM obj START AT TOP
        |GO DOWN UNTIL HAS KEY owner_name AS o
        |GO DOWN UNTIL HAS KEY sku AS i;""".stripMargin)
    assert(MtlParser.run(doc, p, "q").as[(String, String)].collect().toSet ==
      MtlParser.run(doc, viaGoDown, "q").as[(String, String)].collect().toSet)
  }

  test("MTL COREFER merges entity values via label propagation") {
    val p = MtlParser.parse(
      """QUERY q IS SELECT o.owner_name AS owner, i.sku AS sku
        |FROM obj START AT TOP
        |GO DOWN UNTIL HAS KEY owner_name AS o
        |GO DOWN UNTIL HAS KEY sku AS i;
        |IN QUERY q owner AND sku COREFER;""".stripMargin)
    assert(p.coreferences == Seq(MtlParser.Coreference("q", "owner", "sku")))
    val groups = MtlParser.coreferenceGroups(doc, p, "q")
      .as[(String, String)].collect().toSet
    // alice—s1 and alice—s2 form one component; canonical = min = "alice"
    assert(groups == Set(("alice", "alice"), ("s1", "alice"), ("s2", "alice")))
  }

  test("knowledgeBase fails fast when the program has no relation assertions") {
    val p = MtlParser.parse(
      """QUERY q IS SELECT o.owner_name AS owner, i.sku AS sku
        |FROM obj START AT TOP
        |GO DOWN UNTIL HAS KEY owner_name AS o
        |GO DOWN UNTIL HAS KEY sku AS i;
        |IN QUERY q owner AND sku COREFER;""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      MtlParser.knowledgeBase(doc, p, "q")
    }
    assert(e.getMessage.contains("no relation assertions"))
  }

  test("compile path divergence: adding GO UP switches root-relative to sequential binding") {
    // `other` precedes `wrap`, and BOTH subtrees carry a k2 node. The
    // root-relative compile (no GO UP → extractCond) binds `two` to the
    // pre-order-first k2 from the ROOT ("shallow"); the sequential walk
    // (any GO UP present) descends from `one`'s landing node ("deep").
    // Pinned per MtlParser.run's Scaladoc: write unambiguous conditions
    // when mixing semantics.
    val ddoc = Seq(1).toDF("id").select(struct(
      struct(lit("shallow").as("k2")).as("other"),
      struct(lit("x").as("k1"),
        struct(lit("deep").as("k2")).as("inner")).as("wrap")).as("payload"))
    val base =
      """QUERY q IS SELECT two.k2 AS v
        |FROM obj START AT TOP
        |GO DOWN UNTIL HAS KEY k1 AS one
        |GO DOWN UNTIL HAS KEY k2 AS two""".stripMargin
    val rootRel = MtlParser.run(ddoc, MtlParser.parse(base + ";"), "q")
    assert(rootRel.as[String].collect().toSeq == Seq("shallow"))
    val sequential = MtlParser.run(ddoc,
      MtlParser.parse(base + "\nGO UP UNTIL HAS KEY wrap AS top;"), "q")
    assert(sequential.as[String].collect().toSeq == Seq("deep"))
  }

  test("inferTransitive derives the closure and saturates on cycles") {
    val edges = Seq(("a", "b", "next"), ("b", "c", "next"), ("c", "d", "next"),
      ("x", "y", "next"), ("y", "x", "next"), // 2-cycle must terminate
      ("p", "q", "other")).toDF("src_id", "dst_id", "rel")
    val got = MtlParser.inferTransitive(edges, "next", "before")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("a", "b", "before"), ("a", "c", "before"), ("a", "d", "before"),
      ("b", "c", "before"), ("b", "d", "before"), ("c", "d", "before"),
      ("x", "y", "before"), ("y", "x", "before"),
      ("x", "x", "before"), ("y", "y", "before"))) // cycle reaches itself
  }

  test("ConfigPipeline builds a DAG from JSON with SQL expressions") {
    val out = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "n", "op": "parquet", "path": "/root/testdata/sf0.001/nation.parquet"},
        | {"name": "f", "op": "filter", "from": "n", "expr": "n_regionkey = 0"},
        | {"name": "s", "op": "select", "from": "f", "exprs": ["n_name", "n_nationkey * 10 AS k10"]},
        | {"name": "lim", "op": "limit", "from": "s", "n": 3}
        |]}""".stripMargin).output("lim")
    assert(out.columns.toSeq == Seq("n_name", "k10") && out.count() == 3)
    intercept[RuntimeException] {
      ConfigPipeline.fromJson(spark, """{"stages":[{"name":"x","op":"nope"}]}""")
    }
  }

  test("ConfigPipeline reaches the r4 curation ops (repetition/mixture/chunk)") {
    val out = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "d", "op": "parquet", "path": "/root/testdata/sf0.001/documents.parquet"},
        | {"name": "rep", "op": "repetition", "from": "d", "id": "doc_id", "text": "text", "n": 2},
        | {"name": "clean", "op": "filter", "from": "rep", "expr": "dup_frac < 0.9"}
        |]}""".stripMargin).output("clean")
    assert(out.columns.contains("dup_frac") && out.count() > 0)
    val mix = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "d", "op": "parquet", "path": "/root/testdata/sf0.001/documents.parquet"},
        | {"name": "m", "op": "mixture", "from": "d", "id": "doc_id", "group": "lang",
        |  "weights": {"en": 1, "zh": 1}},
        | {"name": "ch", "op": "chunk", "from": "m", "id": "doc_id", "text": "text",
        |  "size": 32, "stride": 16}
        |]}""".stripMargin).output("ch")
    assert(mix.columns.toSeq == Seq("id", "chunk_id", "chunk_text", "n_tokens"))
    assert(mix.count() > 0)
  }

  test("ConfigPipeline.render substitutes ${ENV} placeholders and fails on unbound") {
    val got = ConfigPipeline.render(
      "path ${A}/x and ${B}", Map("A" -> "/data", "B" -> "7"))
    assert(got == "path /data/x and 7")
    // env lookup works (PATH always exists); extra bindings win over env
    assert(ConfigPipeline.render("${PATH}").nonEmpty)
    assert(ConfigPipeline.render("${PATH}", Map("PATH" -> "z")) == "z")
    val e = intercept[RuntimeException] { ConfigPipeline.render("${NO_SUCH_VAR_42}") }
    assert(e.getMessage.contains("NO_SUCH_VAR_42"))
    // untouched text and non-placeholder dollars pass through
    assert(ConfigPipeline.render("a $b {c} $$") == "a $b {c} $$")
  }

  test("ConfigPipeline agg modes: rollup adds subtotal rows") {
    val out = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "o", "op": "table", "dir": "/root/testdata/sf0.001", "table": "orders"},
        | {"name": "a", "op": "agg", "from": "o", "mode": "rollup",
        |  "keys": ["o_orderstatus"], "aggs": ["count(1) as n"]}
        |]}""".stripMargin).output("a")
    val rows = out.collect()
    // grand-total row has a NULL key and equals the sum of the others
    val total = rows.find(_.isNullAt(0)).map(_.getLong(1))
    assert(total.contains(rows.filter(!_.isNullAt(0)).map(_.getLong(1)).sum))
  }

  test("ConfigPipeline reaches the graph and classifier ops") {
    val pr = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "o", "op": "table", "dir": "/root/testdata/sf0.001", "table": "orders"},
        | {"name": "li", "op": "table", "dir": "/root/testdata/sf0.001", "table": "lineitem"},
        | {"name": "e", "op": "join", "from": ["o", "li"], "on": "o_orderkey = l_orderkey", "how": "inner"},
        | {"name": "edges", "op": "select", "from": "e",
        |  "exprs": ["cast(o_custkey as string) as src_id", "cast(l_partkey as string) as dst_id"]},
        | {"name": "pr", "op": "pagerank", "from": "edges", "iters": 2},
        | {"name": "deg", "op": "degrees", "from": "edges"}
        |]}""".stripMargin)
    assert(pr.output("pr").columns.toSeq == Seq("id", "rank"))
    assert(pr.output("pr").count() > 0 && pr.output("deg").count() > 0)
    val qc = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "d", "op": "parquet", "path": "/root/testdata/sf0.001/documents.parquet"},
        | {"name": "w", "op": "select", "from": "d",
        |  "exprs": ["cast(0 as bigint) as bucket", "cast(0.25 as decimal(18,6)) as weight"]},
        | {"name": "wd", "op": "distinct", "from": "w"},
        | {"name": "qc", "op": "quality_classifier", "from": "d", "weights": "wd",
        |  "id": "doc_id", "text": "text", "dim": 1, "bias": "0.5"},
        | {"name": "idx", "op": "inverted_index", "from": "d", "id": "doc_id",
        |  "text": "text", "maxPostings": 3}
        |]}""".stripMargin)
    // dim=1 → every token lands in bucket 0 with weight 0.25:
    // score = 0.5 + 0.25·n_tokens exactly
    val r = qc.output("qc")
    assert(r.filter(expr("score <> 0.5 + 0.25 * n_features")).count() == 0)
    assert(qc.output("idx").columns.toSeq == Seq("token", "postings", "df"))
  }

  test("ConfigPipeline stream_dir builds a streaming DAG that drains to the batch answer") {
    val base = java.nio.file.Files.createTempDirectory("graft_cfg_stream").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "lang")
    docs.repartition(2).write.mode("overwrite").parquet(inDir)
    val out = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "d", "op": "stream_dir", "path": "$inDir", "format": "parquet",
         |  "schema": "${docs.schema.toDDL.replace("\"", "\\\"")}", "maxFilesPerTrigger": 1},
         | {"name": "en", "op": "filter", "from": "d", "expr": "lang = 'en'"},
         | {"name": "sel", "op": "select", "from": "en",
         |  "exprs": ["doc_id", "length(text) AS n_chars"]}
         |]}""".stripMargin).output("sel")
    assert(out.isStreaming)
    val q = graft.streaming.Streams.toForeachBatch(out, ckpt,
      availableNow = true) { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }
    q.awaitTermination()
    val got = spark.read.parquet(s"$outDir/batch_*")
      .as[(Long, Int)].collect().toSet
    val want = docs.filter($"lang" === "en")
      .selectExpr("doc_id", "length(text) AS n_chars")
      .as[(Long, Int)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("a config-built STATEFUL stream carries the auto-attached " +
       "state-store guard (r16): the E4 surface warns on heap-state " +
       "pressure without any library code") {
    val before = graft.streaming.Streams.guardWarningCount(spark)
    val key = graft.streaming.Streams.GuardThresholdConf
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1") // any stateful batch crosses a 1-byte rail
    try {
      val base = java.nio.file.Files.createTempDirectory("graft_cfg_guard").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
          (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
          (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 2L))
        .toDF("ts", "k").coalesce(1).write.mode("overwrite").parquet(inDir)
      val out = ConfigPipeline.fromJson(spark,
        s"""{"stages": [
           | {"name": "e", "op": "stream_dir", "path": "$inDir",
           |  "format": "parquet", "schema": "ts TIMESTAMP, k BIGINT",
           |  "maxFilesPerTrigger": 1},
           | {"name": "sess", "op": "stream_dedup", "from": "e",
           |  "ts": "ts", "delay": "10 minutes", "keys": ["k"]}
           |]}""".stripMargin).output("sess")
      assert(out.isStreaming)
      val q = graft.streaming.Streams.toForeachBatch(out, ckpt,
        availableNow = true, outputMode = "append") { (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      // the listener bus delivers progress asynchronously
      val deadline = System.nanoTime() + 15e9.toLong
      while (graft.streaming.Streams.guardWarningCount(spark) == before &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(graft.streaming.Streams.guardWarningCount(spark) > before,
        "config-built stateful stream drained without the auto-guard firing")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("ConfigPipeline watermark+time_window+agg drains finalized windows in append mode") {
    val base = java.nio.file.Files.createTempDirectory("graft_cfg_winagg").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val events = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "event_type", "value")
    // ascending-ts files so each micro-batch advances the watermark past
    // earlier windows (append emits a window only once the watermark
    // crosses its end — the composition the ConfigPipeline scaladoc sells)
    events.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(inDir)
    spark.read.parquet(inDir).orderBy(desc("ts")).limit(1)
      .write.mode("append").parquet(inDir) // re-append max-ts row as a late file
    val out = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "e", "op": "stream_dir", "path": "$inDir", "format": "parquet",
         |  "schema": "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE",
         |  "maxFilesPerTrigger": 1},
         | {"name": "wm", "op": "watermark", "from": "e", "ts": "ts", "delay": "1 minute"},
         | {"name": "win", "op": "time_window", "from": "wm", "ts": "ts", "duration": "1 hour"},
         | {"name": "agg", "op": "agg", "from": "win", "keys": ["window", "event_type"],
         |  "aggs": ["count(*) AS n", "sum(value) AS total"]}
         |]}""".stripMargin).output("agg")
    assert(out.isStreaming)
    val q = graft.streaming.Streams.toForeachBatch(out, ckpt,
      availableNow = true) { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }
    q.awaitTermination()
    val got = spark.read.parquet(s"$outDir/batch_*")
      .selectExpr("window.start AS ws", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect()
    // append emits each finalized window EXACTLY once, and the finalized
    // rows match the batch answer for those windows
    assert(got.nonEmpty)
    assert(got.map(r => (r._1, r._2)).distinct.length == got.length)
    // the batch twin over the SAME files (late-file duplicate included —
    // the stream counts it too)
    val want = spark.read.parquet(inDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .selectExpr("window.start AS ws", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.forall(r => want.get((r._1, r._2)).contains(r._3)))
  }

  test("ConfigPipeline stream_neardup drains the batch LSH buckets via update mode") {
    val base = java.nio.file.Files.createTempDirectory("graft_cfg_snd").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(inDir)
    val out = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "d", "op": "stream_dir", "path": "$inDir", "format": "parquet",
         |  "schema": "doc_id BIGINT, text STRING", "maxFilesPerTrigger": 1},
         | {"name": "nd", "op": "stream_neardup", "from": "d",
         |  "id": "doc_id", "text": "text", "numHashes": 8, "bands": 2, "rowsPerBand": 4}
         |]}""".stripMargin).output("nd")
    assert(out.isStreaming)
    // the RunPipeline drain recipe for changelog ops: update mode + per-batch
    // dirs, compact by max n_members per bucket
    val q = graft.streaming.Streams.toForeachBatch(out, ckpt,
      availableNow = true, outputMode = "update") { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }
    q.awaitTermination()
    val got = spark.read.parquet(s"$outDir/batch_*")
      .groupBy("band", "band_key")
      .agg(max(struct(col("n_members"), col("min_id"))).as("m"))
      .selectExpr("band", "band_key", "m.min_id AS min_id", "m.n_members AS n_members")
      .as[(Int, String, Long, Long)].collect().toSet
    val want = graft.dedup.Dedup.bandedKeys(
        graft.dedup.Dedup.minhashSignature(docs, "doc_id", "text", 8),
        bands = 2, rowsPerBand = 4)
      .groupBy("band", "band_key")
      .agg(min("id").as("min_id"), count(lit(1)).as("n_members"))
      .as[(Int, String, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("ConfigPipeline ann stages match the programmatic ANN paths") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    def cfg(method: String, extra: String) = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "corpus", "op": "parquet", "path": "$emb"},
         | {"name": "queries", "op": "filter", "from": "corpus", "expr": "vec_id < 20"},
         | {"name": "nn", "op": "ann", "from": ["queries", "corpus"],
         |  "method": "$method", "id": "vec_id", "vec": "embedding", "k": 5$extra}
         |]}""".stripMargin).output("nn")
    val corpus = spark.read.parquet(emb)
    val queries = corpus.filter(col("vec_id") < 20)
    val brute = cfg("brute", "")
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    val bruteWant = graft.similarity.Ann.bruteForceTopK(queries, corpus,
        "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    assert(brute == bruteWant && brute.nonEmpty)
    // ivfpq with nprobe=nlist and an exact re-rank: the shortlist is ADC
    // top-20 over every cell; rerank settles exact-L2 order — both the
    // codebook training and the routing ran from config alone
    val pq = cfg("ivfpq",
      """, "dim": 64, "m": 4, "codebookK": 16, "nlist": 16, "nprobe": 16,
        | "mShort": 20, "rerank": true""".stripMargin.replace("\n", ""))
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect()
    assert(pq.count(_._2 == 1L) == 20 && pq.length == 100) // 20 queries x top-5
    // r9 methods: sq trains its scales at stage-build time; jl projects
    // both sides with the default seed — each must equal the programmatic op
    val sq = cfg("sq", """, "dim": 64""")
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    val sqWant = {
      val scales = graft.similarity.Sq.trainScales(corpus, "embedding", dim = 64)
      graft.similarity.Sq.sqTopK(queries, corpus, "vec_id", "embedding", scales, 5)
        .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    }
    assert(sq == sqWant && sq.nonEmpty)
    // nlist switches the sq method to the IVF-routed composition;
    // nprobe=nlist is the exhaustive identity, so it must equal plain sq
    val sqIvf = cfg("sq", """, "dim": 64, "nlist": 8, "nprobe": 8""")
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    assert(sqIvf == sqWant)
    val jl = cfg("jl", """, "dim": 64, "outDim": 16""")
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    val jlWant = graft.similarity.Jl.jlTopK(queries, corpus, "vec_id", "embedding",
        dim = 64, outDim = 16, k = 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Long, Long)].collect().toSet
    assert(jl == jlWant && jl.nonEmpty)
  }

  test("config knob parity (r12): ann trained=false and pagerank " +
       "danglingRedistribute reach the programmatic forms") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val corpus = spark.read.parquet(emb)
    // trained=false from config ≡ the programmatic md5-pick build (nprobe
    // < nlist so the routing actually differs between quantizers)
    val got = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "c", "op": "parquet", "path": "$emb"},
         | {"name": "qf", "op": "filter", "from": "c", "expr": "vec_id < 8"},
         | {"name": "nn", "op": "ann", "from": ["qf", "c"], "method": "ivf",
         |  "id": "vec_id", "vec": "embedding", "k": 3,
         |  "nlist": 8, "nprobe": 2, "trained": false}
         |]}""".stripMargin).output("nn")
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = graft.similarity.Ann.ivfTopK(corpus.filter(col("vec_id") < 8),
        corpus, "vec_id", "embedding", 3, nlist = 8, nprobe = 2,
        trained = false)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == want && got.nonEmpty)
    // pagerank danglingRedistribute from config ≡ programmatic
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src_id", "dst_id")
    val base = java.nio.file.Files.createTempDirectory("cfg_pr").toString
    edges.write.mode("overwrite").parquet(s"$base/edges")
    val gotPr = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "e", "op": "parquet", "path": "$base/edges"},
         | {"name": "pr", "op": "pagerank", "from": "e", "iters": 3,
         |  "danglingRedistribute": true}
         |]}""".stripMargin).output("pr")
      .as[(String, Long)].collect().toMap
    val wantPr = graft.graph.Graph.pageRank(edges, iters = 3,
        danglingRedistribute = true)
      .as[(String, Long)].collect().toMap
    assert(gotPr == wantPr && gotPr.nonEmpty)
  }

  test("config index BUILD ops: build -> probe chains in ONE config for all " +
       "four stored families match the programmatic forms") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val corpus = spark.read.parquet(emb)
    val base = java.nio.file.Files.createTempDirectory("cfg_build").toString
    // IVFPQ: ann_index_write (trained by default) then ann_index_probe at
    // nprobe = nlist — stages resolve in declaration order, so the probe
    // reads the finished layout
    val gotPq = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "c", "op": "parquet", "path": "$emb"},
         | {"name": "built", "op": "ann_index_write", "from": "c",
         |  "id": "vec_id", "vec": "embedding", "dim": 64, "m": 2,
         |  "codebookK": 4, "dir": "$base/pq", "nlist": 8},
         | {"name": "qf", "op": "filter", "from": "c", "expr": "vec_id < 8"},
         | {"name": "nn", "op": "ann_index_probe", "from": "qf",
         |  "id": "vec_id", "vec": "embedding", "dir": "$base/pq",
         |  "topK": 3, "nprobe": 8}
         |]}""".stripMargin).output("nn")
      .as[(Long, Long, Long, Double)].collect().toSet
    val wantPq = graft.similarity.Pq.probeIndex(
        corpus.filter(col("vec_id") < 8), "vec_id", "embedding", s"$base/pq",
        topK = 3, nprobe = 8)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(gotPq == wantPq && gotPq.nonEmpty)
    // the build stage's own output is the frozen-knob summary row
    assert(ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "c", "op": "parquet", "path": "$emb"},
         | {"name": "built", "op": "sq_index_write", "from": "c",
         |  "id": "vec_id", "vec": "embedding", "dim": 64,
         |  "dir": "$base/sq", "nlist": 8}
         |]}""".stripMargin).output("built")
      .select("dir", "nlist").as[(String, Long)].head() == ((s"$base/sq", 8L)))
    val gotSq = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "c", "op": "parquet", "path": "$emb"},
         | {"name": "qf", "op": "filter", "from": "c", "expr": "vec_id < 8"},
         | {"name": "nn", "op": "sq_index_probe", "from": "qf",
         |  "id": "vec_id", "vec": "embedding", "dir": "$base/sq",
         |  "topK": 3, "nprobe": 8}
         |]}""".stripMargin).output("nn")
      .as[(Long, Long, Long, Long)].collect().toSet
    val wantSq = graft.similarity.Sq.probeIndex(
        corpus.filter(col("vec_id") < 8), "vec_id", "embedding", s"$base/sq",
        topK = 3, nprobe = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(gotSq == wantSq && gotSq.nonEmpty)
    // MaxSim: gathered-matrix build + probe in one config
    val gotMs = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "e", "op": "parquet", "path": "$emb"},
         | {"name": "t", "op": "select", "from": "e",
         |  "exprs": ["vec_id DIV 5 AS id", "vec_id % 5 AS pos", "embedding"]},
         | {"name": "built", "op": "maxsim_index_write", "from": "t",
         |  "id": "id", "pos": "pos", "vec": "embedding",
         |  "dir": "$base/ms", "nlist": 8},
         | {"name": "qt", "op": "filter", "from": "t", "expr": "id % 20 = 0"},
         | {"name": "nn", "op": "maxsim_index_probe", "from": "qt",
         |  "id": "id", "pos": "pos", "vec": "embedding", "dir": "$base/ms",
         |  "k": 3, "nprobe": 8, "mShort": 8}
         |]}""".stripMargin).output("nn")
      .as[(Long, Long, Long, Long)].collect().toSet
    val toks = corpus.select(expr("vec_id DIV 5").as("id"),
      expr("vec_id % 5").as("pos"), col("embedding"))
    val wantMs = graft.similarity.MaxSim.probeIndex(
        toks.filter(col("id") % 20 === 0), "id", "pos", "embedding",
        s"$base/ms", k = 3, nprobe = 8, mShort = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(gotMs == wantMs && gotMs.nonEmpty)
    // lexical: lex_index_write + the bm25 op's indexDir probe path
    val gotLex = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "d", "op": "parquet", "path": "$docs"},
         | {"name": "built", "op": "lex_index_write", "from": "d",
         |  "id": "doc_id", "text": "text", "dir": "$base/lex",
         |  "buckets": 16},
         | {"name": "hits", "op": "bm25", "from": "built",
         |  "indexDir": "$base/lex",
         |  "terms": ["spark", "vector", "customer"], "k": 10}
         |]}""".stripMargin).output("hits")
      .as[(Long, Double)].collect().toSeq
    val wantLex = graft.similarity.Search.bm25FromIndex(spark, s"$base/lex",
        Seq("spark", "vector", "customer"), k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(gotLex == wantLex && gotLex.nonEmpty)
    graft.Caching.drain()
  }

  test("ConfigPipeline drives the persistent IVFPQ index: probe and delta " +
       "match the programmatic forms") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val corpus = spark.read.parquet(emb)
    val dir = java.nio.file.Files.createTempDirectory("cfg_pqidx").toString
    graft.similarity.Pq.writeIndex(corpus, "vec_id", "embedding",
      dim = 64, m = 2, k = 4, dir = dir, nlist = 8)
    val got = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "q", "op": "parquet", "path": "$emb"},
         | {"name": "qf", "op": "filter", "from": "q", "expr": "vec_id < 8"},
         | {"name": "nn", "op": "ann_index_probe", "from": "qf",
         |  "id": "vec_id", "vec": "embedding", "dir": "$dir",
         |  "topK": 3, "nprobe": 8}
         |]}""".stripMargin).output("nn")
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = graft.similarity.Pq.probeIndex(corpus.filter(col("vec_id") < 8),
        "vec_id", "embedding", dir, topK = 3, nprobe = 8)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == want && got.nonEmpty)
    val gotDelta = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "q", "op": "parquet", "path": "$emb"},
         | {"name": "admitted", "op": "filter", "from": "q", "expr": "vec_id % 10 = 0"},
         | {"name": "retired", "op": "filter", "from": "q", "expr": "vec_id % 13 = 0"},
         | {"name": "rids", "op": "select", "from": "retired", "exprs": ["vec_id AS id"]},
         | {"name": "m", "op": "ann_index_delta", "from": "admitted",
         |  "id": "vec_id", "vec": "embedding", "dir": "$dir", "retired": "rids"}
         |]}""".stripMargin).output("m")
      .as[(Long, String, Seq[Int])].collect().toSet
    val wantDelta = graft.similarity.Pq.indexCodesDelta(
        corpus.filter(col("vec_id") % 10 === 0), "vec_id", "embedding", dir,
        corpus.filter(col("vec_id") % 13 === 0).select(col("vec_id").as("id")))
      .as[(Long, String, Seq[Int])].collect().toSet
    assert(gotDelta == wantDelta && gotDelta.nonEmpty)
  }

  test("ConfigPipeline drives the persistent IVF-SQ index: probe and delta " +
       "match the programmatic forms") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val corpus = spark.read.parquet(emb)
    val dir = java.nio.file.Files.createTempDirectory("cfg_sqidx").toString
    graft.similarity.Sq.writeIndex(corpus, "vec_id", "embedding",
      dim = 64, dir = dir, nlist = 8)
    val got = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "q", "op": "parquet", "path": "$emb"},
         | {"name": "qf", "op": "filter", "from": "q", "expr": "vec_id < 8"},
         | {"name": "nn", "op": "sq_index_probe", "from": "qf",
         |  "id": "vec_id", "vec": "embedding", "dir": "$dir",
         |  "topK": 3, "nprobe": 8}
         |]}""".stripMargin).output("nn")
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = graft.similarity.Sq.probeIndex(corpus.filter(col("vec_id") < 8),
        "vec_id", "embedding", dir, topK = 3, nprobe = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    val gotDelta = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "q", "op": "parquet", "path": "$emb"},
         | {"name": "admitted", "op": "filter", "from": "q", "expr": "vec_id % 10 = 0"},
         | {"name": "retired", "op": "filter", "from": "q", "expr": "vec_id % 13 = 0"},
         | {"name": "rids", "op": "select", "from": "retired", "exprs": ["vec_id AS id"]},
         | {"name": "m", "op": "sq_index_delta", "from": "admitted",
         |  "id": "vec_id", "vec": "embedding", "dir": "$dir", "retired": "rids"}
         |]}""".stripMargin).output("m")
      .as[(Long, String, Seq[Int])].collect().toSet
    val wantDelta = graft.similarity.Sq.indexCodesDelta(
        corpus.filter(col("vec_id") % 10 === 0), "vec_id", "embedding", dir,
        corpus.filter(col("vec_id") % 13 === 0).select(col("vec_id").as("id")))
      .as[(Long, String, Seq[Int])].collect().toSet
    assert(gotDelta == wantDelta && gotDelta.nonEmpty)
  }

  test("ConfigPipeline drives the persistent MaxSim index: probe and delta " +
       "match the programmatic forms") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val toks = spark.read.parquet(emb)
      .select(expr("vec_id DIV 5").as("id"), expr("vec_id % 5").as("pos"),
        col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("cfg_msidx").toString
    graft.similarity.MaxSim.writeIndex(toks, "id", "pos", "embedding",
      dir, nlist = 8)
    val tokSel = """["vec_id DIV 5 AS id", "vec_id % 5 AS pos", "embedding"]"""
    val got = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "e", "op": "parquet", "path": "$emb"},
         | {"name": "t", "op": "select", "from": "e", "exprs": $tokSel},
         | {"name": "qf", "op": "filter", "from": "t", "expr": "id % 20 = 0"},
         | {"name": "nn", "op": "maxsim_index_probe", "from": "qf",
         |  "id": "id", "pos": "pos", "vec": "embedding", "dir": "$dir",
         |  "k": 3, "nprobe": 8, "mShort": 8}
         |]}""".stripMargin).output("nn")
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = graft.similarity.MaxSim.probeIndex(
        toks.filter(col("id") % 20 === 0), "id", "pos", "embedding", dir,
        k = 3, nprobe = 8, mShort = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    val gotDelta = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "e", "op": "parquet", "path": "$emb"},
         | {"name": "t", "op": "select", "from": "e", "exprs": $tokSel},
         | {"name": "admitted", "op": "filter", "from": "t", "expr": "id % 10 = 0"},
         | {"name": "retired", "op": "filter", "from": "t", "expr": "id % 13 = 0"},
         | {"name": "rids", "op": "select", "from": "retired", "exprs": ["id"]},
         | {"name": "m", "op": "maxsim_index_delta", "from": "admitted",
         |  "id": "id", "pos": "pos", "vec": "embedding", "dir": "$dir",
         |  "retired": "rids"}
         |]}""".stripMargin).output("m")
      .as[(Long, String, Seq[Seq[Double]], Seq[Double])].collect().toSet
    val wantDelta = graft.similarity.MaxSim.indexMatsDelta(
        toks.filter(col("id") % 10 === 0), "id", "pos", "embedding", dir,
        toks.filter(col("id") % 13 === 0).select(col("id")))
      .as[(Long, String, Seq[Seq[Double]], Seq[Double])].collect().toSet
    assert(gotDelta == wantDelta && gotDelta.nonEmpty)
  }

  test("ConfigPipeline drives the hybrid-stack legs: maxsim_pooled and " +
       "maxsim_rerank match the programmatic composition") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val toks = spark.read.parquet(emb)
      .select(expr("vec_id DIV 5").as("id"), expr("vec_id % 5").as("pos"),
        col("embedding"))
    val tokSel = """["vec_id DIV 5 AS id", "vec_id % 5 AS pos", "embedding"]"""
    val got = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "e", "op": "parquet", "path": "$emb"},
         | {"name": "t", "op": "select", "from": "e", "exprs": $tokSel},
         | {"name": "qf", "op": "filter", "from": "t", "expr": "id % 20 = 0"},
         | {"name": "coarse", "op": "maxsim_pooled", "from": ["qf", "t"],
         |  "id": "id", "pos": "pos", "vec": "embedding", "k": 8},
         | {"name": "cand", "op": "select", "from": "coarse",
         |  "exprs": ["query_id", "neighbor_id"]},
         | {"name": "settled", "op": "maxsim_rerank",
         |  "from": ["cand", "qf", "t"],
         |  "id": "id", "pos": "pos", "vec": "embedding", "k": 3}
         |]}""".stripMargin).output("settled")
      .as[(Long, Long, Long, Long)].collect().toSet
    val queries = toks.filter(col("id") % 20 === 0)
    val want = graft.similarity.MaxSim.rerank(
        graft.similarity.MaxSim.pooledTopK(toks, queries, "id", "pos",
          "embedding", k = 8).select("query_id", "neighbor_id"),
        toks, queries, "id", "pos", "embedding", k = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("ConfigPipeline margin_mine and kcenter match the programmatic forms") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val corpus = spark.read.parquet(emb)
    val mined = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "all", "op": "parquet", "path": "$emb"},
         | {"name": "src", "op": "filter", "from": "all", "expr": "vec_id % 2 = 0"},
         | {"name": "tgt", "op": "filter", "from": "all", "expr": "vec_id % 2 = 1"},
         | {"name": "m", "op": "margin_mine", "from": ["src", "tgt"],
         |  "id": "vec_id", "vec": "embedding", "k": 4, "tau": 1.01, "mutual": true}
         |]}""".stripMargin).output("m")
      .as[(Long, Long, Long)].collect().toSet
    val want = graft.similarity.Mine.marginMine(
        corpus.filter(col("vec_id") % 2 === 0), corpus.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4, tau = 1.01, mutual = true)
      .as[(Long, Long, Long)].collect().toSet
    assert(mined == want && mined.nonEmpty)
    val centers = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "all", "op": "parquet", "path": "$emb"},
         | {"name": "kc", "op": "kcenter", "from": "all",
         |  "id": "vec_id", "vec": "embedding", "k": 3}
         |]}""".stripMargin).output("kc")
    val centersWant = graft.similarity.Clustering.kCenterGreedy(
      corpus, "vec_id", "embedding", k = 3)
    assert(centers.orderBy("step").collect().toSeq ==
      centersWant.orderBy("step").collect().toSeq)
  }

  test("ConfigPipeline cluster_sample and corpus_report match the " +
       "programmatic forms (r13)") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val sampled = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "all", "op": "parquet", "path": "$emb"},
         | {"name": "cs", "op": "cluster_sample", "from": "all",
         |  "id": "vec_id", "vec": "embedding", "k": 3, "n": 4}
         |]}""".stripMargin).output("cs")
      .as[(Long, Long)].collect().toSet
    val asg = graft.similarity.Clustering.kmeans(
        spark.read.parquet(emb), "vec_id", "embedding", k = 3, rounds = 2)
      .select(col("id").as("vec_id"), col("cluster"))
    val want = graft.operators.Ops.sampleNPerGroup(
        asg, Seq("cluster"), "vec_id", n = 4)
      .as[(Long, Long)].collect().toSet
    assert(sampled == want && sampled.nonEmpty)
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    val report = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "docs", "op": "parquet", "path": "$docsPath"},
         | {"name": "card", "op": "corpus_report", "from": "docs",
         |  "text": "text"}
         |]}""".stripMargin).output("card")
    assert(report.columns.toSeq == Seq("lang", "n_docs", "n_dup_docs",
      "total_chars", "total_ws_tokens", "total_bpeish_tokens",
      "dup_ratio", "ws_tokens_per_doc"))
    val docs = spark.read.parquet(docsPath)
    val total = report.agg(sum("n_docs")).as[Long].head()
    assert(total == docs.count())
  }

  test("ConfigPipeline corpus_overlap matches the programmatic form") {
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(docsPath)
    val got = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "all", "op": "parquet", "path": "$docsPath"},
         | {"name": "a", "op": "filter", "from": "all", "expr": "doc_id % 3 <> 0"},
         | {"name": "b", "op": "filter", "from": "all", "expr": "doc_id % 3 = 0"},
         | {"name": "ov", "op": "corpus_overlap", "from": ["a", "b"],
         |  "text": "text", "ngram": 5, "k": 128}
         |]}""".stripMargin).output("ov").collect().head
    val want = graft.dedup.Dedup.corpusOverlap(
      docs.filter(col("doc_id") % 3 =!= 0), docs.filter(col("doc_id") % 3 === 0),
      "text", ngram = 5, sketchK = 128).collect().head
    assert(got.toSeq == want.toSeq)
    assert(got.getAs[Long]("k_used") > 0)
  }

  test("ConfigPipeline soft_dedup and ccnet_buckets match the programmatic forms") {
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(docsPath)
    val soft = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "d", "op": "parquet", "path": "$docsPath"},
         | {"name": "w", "op": "soft_dedup", "from": "d",
         |  "id": "doc_id", "text": "text", "maxBucket": 256}
         |]}""".stripMargin).output("w")
    val softWant = graft.dedup.Dedup.softDedupWeights(docs, "doc_id", "text",
      maxBucket = 256, metricName = "w_bucket_guard")
    assert(soft.orderBy("doc_id").collect().toSeq ==
      softWant.orderBy("doc_id").collect().toSeq)
    val cb = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "d", "op": "parquet", "path": "$docsPath"},
         | {"name": "b", "op": "ccnet_buckets", "from": "d",
         |  "id": "doc_id", "text": "text", "buckets": 3}
         |]}""".stripMargin).output("b")
    val cbWant = graft.functions.Lm.perplexityBuckets(docs, "doc_id", "text", 3)
    assert(cb.orderBy("id").collect().toSeq ==
      cbWant.orderBy("id").collect().toSeq)
  }

  test("stateless curation ops ride streaming pipelines from config for free") {
    // the stateful curation ops need explicit twins (stream_dedup,
    // stream_neardup, stream_spandedup, ...); every STATELESS op — filters,
    // langid, quality scores, fingerprints, projections — is a pure
    // per-row plan that Structured Streaming runs unchanged. Pin that
    // contract: a stream_dir → filter → langid config drains to exactly
    // the batch answer, no twin required.
    val base = java.nio.file.Files.createTempDirectory("graft_cfg_sl").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(inDir)
    val out = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "d", "op": "stream_dir", "path": "$inDir", "format": "parquet",
         |  "schema": "doc_id BIGINT, text STRING", "maxFilesPerTrigger": 1},
         | {"name": "f", "op": "filter", "from": "d", "expr": "doc_id % 2 = 0"},
         | {"name": "l", "op": "langid", "from": "f", "id": "doc_id", "text": "text"}
         |]}""".stripMargin).output("l")
    assert(out.isStreaming)
    val q = graft.streaming.Streams.toForeachBatch(out, ckpt,
      availableNow = true) { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }
    q.awaitTermination()
    val got = spark.read.parquet(s"$outDir/batch_*")
      .as[(Long, String)].collect().toSet
    val want = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), graft.functions.Text.langId(col("text")))
      .as[(Long, String)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("config stream_keepbest and ivfpq reject bad shapes at build time") {
    // string id through stream_keepbest would null-cast and kill the
    // stream mid-run; the config path must fail at plan time instead
    val base = java.nio.file.Files.createTempDirectory("graft_cfg_rej").toString
    spark.createDataset(Seq(("u", "a", 1.0))).toDF("url", "key", "score")
      .write.mode("overwrite").parquet(s"$base/in")
    val e = intercept[IllegalArgumentException] {
      ConfigPipeline.fromJson(spark,
        s"""{"stages": [
           | {"name": "d", "op": "stream_dir", "path": "$base/in",
           |  "format": "parquet",
           |  "schema": "url STRING, key STRING, score DOUBLE"},
           | {"name": "kb", "op": "stream_keepbest", "from": "d",
           |  "key": "key", "id": "url", "score": "score"}
           |]}""".stripMargin).output("kb")
    }
    assert(e.getMessage.contains("must be integral"))
    // mShort without rerank would silently return mShort rows, not k
    // (eager check → fromJson wraps it with the stage index/name context)
    val e2 = intercept[RuntimeException] {
      ConfigPipeline.fromJson(spark,
        s"""{"stages": [
           | {"name": "c", "op": "parquet",
           |  "path": "/root/testdata/sf0.001/embeddings.parquet"},
           | {"name": "nn", "op": "ann", "from": ["c", "c"],
           |  "method": "ivfpq", "id": "vec_id", "vec": "embedding",
           |  "k": 5, "dim": 64, "mShort": 20}
           |]}""".stripMargin).output("nn")
    }
    assert(e2.getMessage.contains("rerank"))
  }

  test("ConfigPipeline zorder and corpus_shuffle match the programmatic forms") {
    val out = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "o", "op": "table", "table": "orders", "dir": "$sfDir"},
         | {"name": "c", "op": "withColumn", "from": "o",
         |  "col": "cents", "expr": "cast(floor(o_totalprice * 100) as bigint)"},
         | {"name": "z", "op": "zorder", "from": "c",
         |  "cols": ["o_custkey", "cents"], "bits": 8}
         |]}""".stripMargin).output("z")
    val want = graft.operators.Sinks.zorderValue(
      spark.read.parquet(s"$sfDir/orders.parquet")
        .withColumn("cents", expr("cast(floor(o_totalprice * 100) as bigint)")),
      Seq("o_custkey", "cents"), 8)
    assert(out.select("o_orderkey", "zval").as[(Long, Long)].collect().toSet ==
      want.select("o_orderkey", "zval").as[(Long, Long)].collect().toSet)
    val sh = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "d", "op": "table", "table": "documents", "dir": "$sfDir"},
         | {"name": "s", "op": "corpus_shuffle", "from": "d",
         |  "id": "doc_id", "seed": 7, "shards": 8}
         |]}""".stripMargin).output("s")
    val wantSh = graft.operators.Ops.corpusShuffle(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", 7L, 8)
    assert(sh.select("doc_id", "shard", "pos").as[(Long, Long, Int)]
      .collect().toSet ==
      wantSh.select("doc_id", "shard", "pos").as[(Long, Long, Int)]
        .collect().toSet)
  }

  test("ConfigPipeline dedup_near matches the programmatic near-dup flagship") {
    val cfg = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "d", "op": "parquet", "path": "/root/testdata/sf0.001/documents.parquet"},
        | {"name": "nd", "op": "dedup_near", "from": "d", "id": "doc_id", "text": "text",
        |  "numHashes": 16, "bands": 4, "rowsPerBand": 4, "maxBucket": 256}
        |]}""".stripMargin)
    val got = cfg.output("nd").select("doc_id").as[Long].collect().toSet
    // programmatic twin (the q_neardup_pipeline body)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sig = graft.dedup.Dedup.minhashSignature(docs, "doc_id", "text", 16)
    val pairs = graft.dedup.Dedup.lshPairs(sig, bands = 4, rowsPerBand = 4,
      maxBucket = 256)
    val clusters = graft.dedup.Dedup.dupClusters(pairs)
      .withColumnRenamed("member", "doc_id")
    val want = docs.join(clusters, Seq("doc_id"), "left")
      .filter(col("canonical").isNull || col("canonical") === col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
    // all input columns ride through; the helper column does not leak
    assert(cfg.output("nd").columns.toSeq == docs.columns.toSeq)
  }

  test("ConfigPipeline drives approx percentiles and distinct sketches") {
    val cfg = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "o", "op": "table", "dir": "/root/testdata/sf0.001", "table": "orders"},
        | {"name": "pctl", "op": "percentiles", "from": "o", "keys": ["o_orderstatus"],
        |  "value": "o_totalprice", "ps": [{"p": 0.25, "as": "p25"}, {"p": 0.5, "as": "p50"}],
        |  "accuracy": 10000},
        | {"name": "pctl_exact", "op": "percentiles", "from": "o", "mode": "exact",
        |  "keys": ["o_orderstatus"], "value": "o_totalprice", "ps": [{"p": 0.5, "as": "p50"}]},
        | {"name": "kmv", "op": "distinct_sketch", "from": "o", "keys": ["o_orderstatus"],
        |  "value": "o_custkey", "k": 64},
        | {"name": "hll", "op": "distinct_sketch", "from": "o", "method": "hll",
        |  "keys": ["o_orderstatus"], "value": "o_custkey", "rsd": 0.02}
        |]}""".stripMargin)
    // config default is APPROX (bounded agg state); at accuracy 10000 over
    // a few hundred values per group the approx median sits within the
    // neighboring-value gap of the exact interpolated one
    val approx = cfg.output("pctl").select("o_orderstatus", "p50")
      .as[(String, Double)].collect().toMap
    val exact = cfg.output("pctl_exact").select("o_orderstatus", "p50")
      .as[(String, Double)].collect().toMap
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e) / e < 0.05, s"$k: approx ${approx(k)} vs exact $e") }
    assert(cfg.output("pctl").columns.toSeq == Seq("o_orderstatus", "p25", "p50"))
    // both sketch methods estimate the true per-group distinct count
    val truth = cfg.output("o").groupBy("o_orderstatus")
      .agg(count_distinct(col("o_custkey")).as("d"))
      .as[(String, Long)].collect().toMap
    val kmv = cfg.output("kmv").select("o_orderstatus", "distinct_est")
      .as[(String, Double)].collect().toMap
    val hll = cfg.output("hll").select("o_orderstatus", "distinct_est")
      .as[(String, Long)].collect().toMap
    truth.foreach { case (k, t) =>
      assert(math.abs(kmv(k) - t) / t < 0.35, s"$k: kmv ${kmv(k)} vs true $t")
      assert(math.abs(hll(k).toDouble - t) / t < 0.10, s"$k: hll ${hll(k)} vs true $t")
    }
  }

  test("ConfigPipeline drives decontamination, exact and bloom methods equal") {
    val cfg = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "docs", "op": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
        | {"name": "bench", "op": "filter", "from": "docs", "expr": "doc_id % 97 = 0"},
        | {"name": "dc", "op": "decontaminate", "from": "docs", "bench": "bench",
        |  "id": "doc_id", "text": "text", "k": 5},
        | {"name": "dcb", "op": "decontaminate", "from": "docs", "bench": "bench",
        |  "method": "bloom", "fpp": 0.05, "id": "doc_id", "text": "text", "k": 5},
        | {"name": "dcw", "op": "decontaminate", "from": "docs", "bench": "bench",
        |  "method": "winnow", "id": "doc_id", "text": "text", "k": 5, "w": 4}
        |]}""".stripMargin)
    val exact = cfg.output("dc").as[(Long, Long, Boolean)].collect().toSet
    // the bench docs self-hit, the rest of the corpus mostly doesn't
    assert(exact.exists(_._3) && exact.exists(!_._3))
    assert(cfg.output("dcb").as[(Long, Long, Boolean)].collect().toSet == exact)
    // winnow thins to prints: a shared print IS a shared k-gram (same k),
    // so winnow-flagged ⊆ exact-flagged; the guarantee (runs >= w+k-1)
    // still catches the self-hitting bench docs, so the set is nonempty
    val winnowFlagged = cfg.output("dcw").as[(Long, Long, Boolean)].collect()
      .filter(_._3).map(_._1).toSet
    val exactFlagged = exact.filter(_._3).map(_._1)
    assert(winnowFlagged.nonEmpty, "winnow flagged nothing")
    assert(winnowFlagged.subsetOf(exactFlagged),
      s"winnow flagged docs exact did not: ${winnowFlagged -- exactFlagged}")
  }

  test("ConfigPipeline drives token_budget and snapshot_diff from config") {
    val cfg = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "docs", "op": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
        | {"name": "tb", "op": "token_budget", "from": "docs", "id": "doc_id",
        |  "group": "lang", "text": "text", "budgets": {"en": 300, "zh": 200}},
        | {"name": "tbr", "op": "token_budget", "from": "docs", "method": "rate",
        |  "id": "doc_id", "group": "lang", "text": "text",
        |  "budgets": {"en": 300, "zh": 200}},
        | {"name": "old", "op": "filter", "from": "docs", "expr": "doc_id % 3 <> 0"},
        | {"name": "diff", "op": "snapshot_diff", "from": "docs", "old": "old",
        |  "id": "doc_id", "text": "text"}
        |]}""".stripMargin)
    // exact: every budgeted group lands at/over budget, overshoot < 1 doc
    val byG = cfg.output("tb").groupBy("grp").agg(sum("n_tokens").as("t"))
      .as[(String, Long)].collect().toMap
    assert(byG.keySet == Set("en", "zh") && byG("en") >= 300L && byG("zh") >= 200L)
    // rate mode reaches the same op family without the window (smoke: runs,
    // drops unbudgeted groups)
    assert(cfg.output("tbr").filter(col("lang") === "de").count() == 0)
    // docs removed from `old` surface as added; nothing changed/removed
    val st = cfg.output("diff").groupBy("status").count()
      .as[(String, Long)].collect().toMap
    assert(st("added") > 0 && st.contains("unchanged") && !st.contains("removed"))
  }

  test("ConfigPipeline drives substring_dedup, heavy_hitters, distribution_drift") {
    val cfg = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "docs", "op": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
        | {"name": "ss", "op": "substring_dedup", "from": "docs",
        |  "id": "doc_id", "text": "text", "window": 16},
        | {"name": "toks", "op": "select", "from": "docs",
        |  "exprs": ["explode(array_remove(split(text, ' '), '')) AS tok"]},
        | {"name": "hh", "op": "heavy_hitters", "from": "toks",
        |  "value": "tok", "supportPermille": 33},
        | {"name": "old", "op": "filter", "from": "docs", "expr": "doc_id % 3 <> 0"},
        | {"name": "drift", "op": "distribution_drift", "from": "docs",
        |  "old": "old", "text": "text"}
        |]}""".stripMargin)
    // substring dedup: every doc reports, fractions in [0,1]
    val ss = cfg.output("ss")
    assert(ss.count() == cfg.output("docs").count())
    assert(ss.filter(col("dup_frac") < 0 || col("dup_frac") > 1).count() == 0)
    // heavy hitters: strictly above support, counts exact vs a full group-by
    val hh = cfg.output("hh").as[(String, Long)].collect().toMap
    val full = cfg.output("toks").groupBy("tok").count().as[(String, Long)]
      .collect().toMap
    val n = full.values.sum
    assert(hh == full.filter { case (_, c) => c * 1000 > n * 33 })
    // drift: dropping a third of the docs barely moves the distribution
    val d = cfg.output("drift").as[(Long, Long, Long, Double)].head()
    assert(d._4.abs < 0.5, s"drift implausibly large: $d")
    Caching.drain()
  }

  test("ConfigPipeline drives the incremental near-dedup loop from config") {
    val cfg = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "docs", "op": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
        | {"name": "corpus", "op": "filter", "from": "docs", "expr": "doc_id % 5 <> 0"},
        | {"name": "delta", "op": "filter", "from": "docs", "expr": "doc_id % 5 = 0"},
        | {"name": "idx", "op": "band_keys", "from": "corpus", "id": "doc_id", "text": "text"},
        | {"name": "probe", "op": "neardup_incremental", "from": "delta",
        |  "index": "idx", "id": "doc_id", "text": "text"}
        |]}""".stripMargin)
    val verdicts = cfg.output("probe").as[(Long, Boolean)].collect().toMap
    val deltaN = cfg.output("delta").count()
    assert(verdicts.size == deltaN) // every delta doc gets a verdict
    assert(cfg.output("idx").columns.toSeq == Seq("id", "band", "band_key"))
  }

  test("ConfigPipeline runs index_delta maintenance from config") {
    val cfg = ConfigPipeline.fromJson(spark,
      """{"stages": [
        | {"name": "docs", "op": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
        | {"name": "corpus", "op": "filter", "from": "docs", "expr": "doc_id % 5 <> 0"},
        | {"name": "admitted", "op": "filter", "from": "docs", "expr": "doc_id % 5 = 0"},
        | {"name": "gone", "op": "filter", "from": "docs", "expr": "doc_id % 3 = 0"},
        | {"name": "retired", "op": "select", "from": "gone", "exprs": ["doc_id AS id"]},
        | {"name": "idx", "op": "band_keys", "from": "corpus", "id": "doc_id", "text": "text"},
        | {"name": "next", "op": "index_delta", "from": "admitted",
        |  "index": "idx", "retired": "retired", "id": "doc_id", "text": "text"}
        |]}""".stripMargin)
    val next = cfg.output("next")
    assert(next.columns.toSeq == Seq("id", "band", "band_key"))
    // retired ids are gone from the carried-over index; admitted ids appear
    val ids = next.select("id").distinct().as[Long].collect().toSet
    assert(ids.exists(_ % 5 == 0))
    assert(!ids.exists(i => i % 3 == 0 && i % 5 != 0))
  }

  test("ConfigPipeline diagnostics name the stage index and valid ops") {
    // misspelled op → stage index + name + the valid-op list
    val badOp = intercept[RuntimeException] {
      ConfigPipeline.fromJson(spark,
        """{"stages": [
          | {"name": "docs", "op": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
          | {"name": "f", "op": "fliter", "from": "docs", "expr": "true"}
          |]}""".stripMargin)
    }.getMessage
    assert(badOp.contains("stage #1 'f' (op 'fliter')"))
    assert(badOp.contains("unknown op 'fliter'") &&
      badOp.contains("filter") && badOp.contains("valid ops"))
    // missing knob → stage context + the knob's name. Most knob reads sit
    // inside deferred stage lambdas, so force the build with output() —
    // the context must survive the deferral.
    val badKnob = intercept[RuntimeException] {
      ConfigPipeline.fromJson(spark,
        """{"stages": [
          | {"name": "docs", "op": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
          | {"name": "f", "op": "filter", "from": "docs"}
          |]}""".stripMargin).output("f")
    }.getMessage
    assert(badKnob.contains("stage #1 'f' (op 'filter')"))
    assert(badKnob.contains("missing required knob 'expr'"))
  }

  test("ConfigPipeline composes the daily-crawl recipe to the q_incremental_pipeline answer") {
    // the round-7 gap: snapshot_diff / band_keys / neardup_incremental /
    // token_budget were each config-reachable, but nothing composed
    // diff → probe → admit → budget as RunPipeline stages. This is that
    // config — its output must row-match the Scala flagship exactly.
    val dir = "/root/testdata/sf0.001"
    val out = ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "d", "op": "table", "dir": "$dir", "table": "documents"},
         | {"name": "old0", "op": "filter", "from": "d", "expr": "doc_id % 11 != 3"},
         | {"name": "old", "op": "withColumn", "from": "old0", "col": "text",
         |  "expr": "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' v1') ELSE text END"},
         | {"name": "diff", "op": "snapshot_diff", "from": "d", "old": "old",
         |  "id": "doc_id", "text": "text"},
         | {"name": "fresh_ids", "op": "filter", "from": "diff",
         |  "expr": "status IN ('added', 'changed')"},
         | {"name": "fresh_ids2", "op": "select", "from": "fresh_ids", "exprs": ["id"]},
         | {"name": "fresh", "op": "join", "from": ["d", "fresh_ids2"],
         |  "on": "doc_id = id", "how": "left_semi"},
         | {"name": "corpus_ids", "op": "filter", "from": "diff",
         |  "expr": "status = 'unchanged'"},
         | {"name": "corpus_ids2", "op": "select", "from": "corpus_ids", "exprs": ["id"]},
         | {"name": "corpus", "op": "join", "from": ["d", "corpus_ids2"],
         |  "on": "doc_id = id", "how": "left_semi"},
         | {"name": "index", "op": "band_keys", "from": "corpus",
         |  "id": "doc_id", "text": "text"},
         | {"name": "probed", "op": "neardup_incremental", "from": "fresh",
         |  "index": "index", "id": "doc_id", "text": "text"},
         | {"name": "keep_ids", "op": "filter", "from": "probed",
         |  "expr": "NOT dup_of_corpus"},
         | {"name": "keep_ids2", "op": "select", "from": "keep_ids", "exprs": ["id"]},
         | {"name": "keep", "op": "join", "from": ["fresh", "keep_ids2"],
         |  "on": "doc_id = id", "how": "left_semi"},
         | {"name": "out", "op": "token_budget", "from": "keep", "id": "doc_id",
         |  "group": "lang", "text": "text",
         |  "budgets": {"en": 1500, "zh": 500, "es": 400}}
         |]}""".stripMargin).output("out")
    val want = SparkEntry.queries("q_incremental_pipeline")(spark, dir)
    assert(out.columns.toSeq == want.columns.toSeq)
    val gotRows = out.collect().map(_.toSeq).toSet
    val wantRows = want.collect().map(_.toSeq).toSet
    assert(gotRows == wantRows && gotRows.nonEmpty)
  }

  test("every advertised validOps name is a real op (no drift)") {
    // feed each advertised op a minimal stage: a REAL op fails on a missing
    // knob / upstream (or even builds), never with "unknown op" — so a name
    // that drifts out of the match is caught here, not by a user's typo
    // diagnostic listing an op that doesn't exist
    ConfigPipeline.validOps.foreach { op =>
      val msg = try {
        ConfigPipeline.fromJson(spark,
          s"""{"stages": [{"name": "x", "op": "$op"}]}""").output("x")
        ""
      } catch { case e: Throwable => String.valueOf(e.getMessage) }
      assert(!msg.contains("unknown op"), s"validOps lists '$op' but the dispatcher doesn't: $msg")
    }
    // ...and the REVERSE: every top-level dispatcher arm is advertised.
    // Top-level arms are the LEAST-indented string-case arms in the file
    // (method/mode sub-matches — kmv, bloom, ivfpq, ... — nest deeper), so
    // the detection survives a reformat; the path is anchored by walking up
    // to build.sbt, so it survives a different test working directory.
    def repoRoot(d: java.io.File): java.io.File =
      if (new java.io.File(d, "build.sbt").exists) d
      else repoRoot(Option(d.getParentFile).getOrElse(
        fail("no build.sbt above " + sys.props("user.dir"))))
    val src = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(repoRoot(new java.io.File(sys.props("user.dir")).getAbsoluteFile),
        "src/main/scala/graft/pipeline/ConfigPipeline.scala").toPath))
    val armMatches = "(?m)^(\\s*)case \"([A-Za-z_0-9]+)\" =>".r
      .findAllMatchIn(src).toSeq
    val minIndent = armMatches.map(_.group(1).length).min
    val arms = armMatches.filter(_.group(1).length == minIndent)
      .map(_.group(2)).toSet
    assert(arms == ConfigPipeline.validOps.toSet,
      s"dispatcher arms not advertised: ${(arms -- ConfigPipeline.validOps).toSeq.sorted}; " +
        s"advertised but missing: ${(ConfigPipeline.validOps.toSet -- arms).toSeq.sorted}")
  }

  test("intervalJoinBucketed matches plain intervalJoin results") {
    val ev = Seq((1L, "a", 100L), (2L, "a", 250L), (3L, "a", 900L), (4L, "b", 120L),
      (5L, "b", 180L)).toDF("id", "k", "t")
    val l = ev.select(col("id").as("l_id"), col("k"), col("t").as("l_t"))
    val r = ev.select(col("id").as("r_id"), col("k"), col("t").as("r_t"))
    val plain = Ops.intervalJoin(l, r, Seq("k"), col("l_t"), col("r_t"),
        lit(1L), lit(200L)).select("l_id", "r_id").as[(Long, Long)].collect().toSet
    val bucketed = Ops.intervalJoinBucketed(l, r, Seq("k"), "l_t", "r_t",
        1L, 200L, bucketWidth = 200L)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(bucketed == plain)
  }

  test("Jobs.recorded sums task counters over the jobs its body ran") {
    val jobs = Jobs.recorded(spark)(
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()).jobs
    assert(jobs.map(_.tasks).sum > 0)
    assert(jobs.map(_.inputRecords).sum > 0)
  }

  test("MTL WHERE accepts quoted literals containing spaces and '#'") {
    import spark.implicits._
    val doc = Seq((1L, "Customer#000000001", 5L), (2L, "two words", 9L),
      (3L, "plain", 2L))
      .toDF("id", "nm", "qty")
      .select(col("id"), struct(col("nm"), col("qty")).as("payload"))
    val program = graft.json.MtlParser.parse(
      """# leading comment survives
        |QUERY q IS SELECT c.nm AS name, c.qty AS qty
        |FROM obj START AT TOP
        |GO DOWN UNTIL HAS KEY nm AS c
        |WHERE c.nm = 'Customer#000000001';""".stripMargin)
    val got = graft.json.MtlParser.run(doc, program, "q")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("Customer#000000001", 5L)))
    val program2 = graft.json.MtlParser.parse(
      "QUERY q IS SELECT c.nm AS name FROM obj START AT TOP " +
        "GO DOWN UNTIL HAS KEY nm AS c WHERE c.nm = 'two words';")
    assert(graft.json.MtlParser.run(doc, program2, "q")
      .as[String].collect().toSeq == Seq("two words"))
  }

  test("compoundEntities derives stable content-hash identities") {
    import spark.implicits._
    val rows = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "n")
    val ents = graft.json.MtlParser.compoundEntities(rows, Seq("k", "n"))
    assert(ents.count() == 2) // duplicates collapse
    val id = ents.filter($"k" === 1).select("entity_id").as[String].head()
    // md5("1|a") — same components ⇒ same identity on any engine, any run
    assert(id == java.security.MessageDigest.getInstance("MD5")
      .digest("1|a".getBytes("UTF-8")).map(b => f"$b%02x").mkString)
  }

  test("ConfigPipeline reaches the training-pipeline ops (pack, split, sessionize)") {
    import spark.implicits._
    val out = graft.pipeline.ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "docs", "op": "table", "dir": "$sfDir", "table": "documents"},
         | {"name": "toks", "op": "withColumn", "from": "docs",
         |  "col": "n_tokens", "expr": "CAST(size(split(text, ' ')) AS BIGINT)"},
         | {"name": "packed", "op": "pack", "from": "toks", "keys": ["lang"],
         |  "order": ["doc_id"], "weight": "n_tokens", "budget": 500},
         | {"name": "sp", "op": "split", "from": "packed", "id": "doc_id", "trainPct": 80}
         |]}""".stripMargin).output("sp")
    assert(out.columns.contains("bin_id") && out.columns.contains("split"))
    assert(out.select("split").distinct().as[String].collect().toSet == Set("train", "val"))
    val sess = graft.pipeline.ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "ev", "op": "table", "dir": "$sfDir", "table": "events"},
         | {"name": "us", "op": "withColumn", "from": "ev",
         |  "col": "ts_us", "expr": "ts_ns div 1000"},
         | {"name": "sess", "op": "sessionize", "from": "us", "keys": ["user_id"],
         |  "ts": "ts_us", "gap": 600000000},
         | {"name": "tag", "op": "session_tag", "from": "us", "keys": ["user_id"],
         |  "ts": "ts_us", "gap": 600000000}
         |]}""".stripMargin)
    val rolled = sess.output("sess")
    assert(rolled.count() > 0 && rolled.columns.contains("session_start"))
    // session_tag is sessionize's member-row half: every input row back,
    // and its rollup reproduces sessionize exactly
    val tagged = sess.output("tag")
    assert(tagged.count() == graft.sources.Tables.load(spark, sfDir, "events").count())
    val reRolled = tagged.groupBy("user_id", "session_id")
      .agg(min(col("ts_us")).as("session_start"),
        max(col("ts_us")).as("session_end"),
        count(lit(1)).as("n_events"))
    assert(reRolled.except(rolled).isEmpty && rolled.except(reRolled).isEmpty)
  }

  test("ConfigPipeline reaches the r5 curation ops from config") {
    import spark.implicits._
    val out = graft.pipeline.ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "docs", "op": "table", "dir": "$sfDir", "table": "documents"},
         | {"name": "url", "op": "withColumn", "from": "docs",
         |  "col": "u", "expr": "'HTTP://Ex.COM:80/' || CAST(doc_id AS STRING) || '#f'"},
         | {"name": "canon", "op": "canonical_url", "from": "url", "url": "u"},
         | {"name": "best", "op": "dedup_best", "from": "canon",
         |  "id": "doc_id", "key": "canon", "score": "doc_id"},
         | {"name": "hist", "op": "histogram", "from": "best",
         |  "value": "keep_score", "bins": 4}
         |]}""".stripMargin).output("hist")
    assert(out.columns.toSeq == Seq("bin", "lo", "hi", "n"))
    assert(out.agg(sum("n")).as[Long].head() > 0)
    val samp = graft.pipeline.ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "docs", "op": "table", "dir": "$sfDir", "table": "documents"},
         | {"name": "s3", "op": "sample_per_group", "from": "docs",
         |  "keys": ["lang"], "id": "doc_id", "n": 2},
         | {"name": "clean", "op": "span_dedup_clean", "from": "s3",
         |  "id": "doc_id", "text": "text", "window": 16},
         | {"name": "xent", "op": "lm_xent_bigram", "from": "clean",
         |  "id": "id", "text": "clean_text"}
         |]}""".stripMargin).output("xent")
    assert(samp.columns.toSeq == Seq("id", "n_bigrams", "xent"))
    assert(samp.count() > 0)
  }

  test("ConfigPipeline reaches the r10 web-ingest ops from config") {
    import spark.implicits._
    // crawl-shaped chain: wrap docs in markup -> extract -> NFC-normalize
    // -> encoding stats, all from config
    val out = graft.pipeline.ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "docs", "op": "table", "dir": "$sfDir", "table": "documents"},
         | {"name": "page", "op": "withColumn", "from": "docs",
         |  "col": "h", "expr": "'<body><script>x()</script><p>' || text || ' &amp; tail</p></body>'"},
         | {"name": "txt", "op": "html_text", "from": "page", "html": "h"},
         | {"name": "norm", "op": "normalize_unicode", "from": "txt",
         |  "text": "clean", "form": "NFC", "as": "clean"},
         | {"name": "stats", "op": "encoding_stats", "from": "norm",
         |  "id": "doc_id", "text": "clean"}
         |]}""".stripMargin)
    val stats = out.output("stats")
    assert(stats.columns.toSeq ==
      Seq("doc_id", "n_chars", "n_replacement", "n_control", "non_ascii_frac",
        "nfc_changed"))
    assert(stats.filter(col("n_replacement") > 0 || col("n_control") > 0
      || col("nfc_changed") > 0).count() == 0L)
    val txt = out.output("norm").select("clean").as[String].head()
    assert(!txt.contains("<") && txt.endsWith("& tail"))
    val hs = graft.pipeline.ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "docs", "op": "table", "dir": "$sfDir", "table": "documents"},
         | {"name": "page", "op": "withColumn", "from": "docs",
         |  "col": "h", "expr": "'<p>' || text || '</p><a href=x>l</a>'"},
         | {"name": "hs", "op": "html_stats", "from": "page", "id": "doc_id",
         |  "html": "h"}
         |]}""".stripMargin).output("hs")
    assert(hs.columns.toSeq ==
      Seq("doc_id", "n_tags", "n_links", "n_scripts", "text_frac"))
    assert(hs.filter(col("n_tags") =!= 4 || col("n_links") =!= 1).count() == 0L)
    // rrf_fuse is a fan-in op: two ranked lists built from config fuse to
    // one hybrid list (agreeing lists double their candidate's score)
    val fused = graft.pipeline.ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "docs", "op": "table", "dir": "$sfDir", "table": "documents"},
         | {"name": "top", "op": "filter", "from": "docs", "expr": "doc_id < 3"},
         | {"name": "l1", "op": "withColumn", "from": "top",
         |  "col": "rank", "expr": "doc_id + 1"},
         | {"name": "l1q", "op": "withColumn", "from": "l1",
         |  "col": "q", "expr": "0"},
         | {"name": "l2", "op": "withColumn", "from": "top",
         |  "col": "rank", "expr": "3 - doc_id"},
         | {"name": "l2q", "op": "withColumn", "from": "l2",
         |  "col": "q", "expr": "0"},
         | {"name": "fused", "op": "rrf_fuse", "from": ["l1q", "l2q"],
         |  "query": "q", "id": "doc_id", "rank": "rank", "topK": 2}
         |]}""".stripMargin).output("fused")
    assert(fused.columns.toSeq == Seq("q", "doc_id", "rrf_ppm", "rank"))
    // symmetric ranks (1+3, 2+2, 3+1): the reciprocal is convex, so the
    // extremes (docs 0 and 2, 16393+15873=32266) beat the middle (doc 1,
    // 2·16129=32258); the 0-vs-2 tie breaks by id
    val rows = fused.orderBy("rank").as[(Int, Long, Long, Long)].collect()
    assert(rows.map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((0L, 32266L, 1L), (2L, 32266L, 2L)))
  }

  test("errorBudget drops bad rows within budget and fails loudly past it") {
    val df = Seq((1L, "ok"), (2L, null), (3L, "ok"), (4L, null), (5L, "ok"))
      .toDF("id", "v")
    // within budget: bad rows dropped, good rows flow
    val ok = Ops.errorBudget(df, col("v").isNull, maxErrors = 2)
      .select("id").as[Long].collect().toSet
    assert(ok == Set(1L, 3L, 5L))
    // past budget: aborts AT THE GATE, never a silently-lossy result
    val ex = intercept[Exception] {
      Ops.errorBudget(df, col("v").isNull, maxErrors = 1)
    }
    assert(ex.getMessage.contains("error budget exceeded"))
    // a null predicate is a bad row, not a pass: nulls only on the two bad
    // rows → exactly at budget 2, and both are dropped
    assert(Ops.errorBudget(df,
      when(col("v").isNull, lit(null).cast("boolean")).otherwise(lit(false)),
      maxErrors = 2).count() == 3L)
    // an ALL-errors input still aborts (the case a lazy gate would miss)
    val exAll = intercept[Exception] {
      Ops.errorBudget(df, lit(true), maxErrors = 4)
    }
    assert(exAll.getMessage.contains("error budget exceeded"))
  }

  test("ConfigPipeline permissive CSV + error_budget tolerates a poisoned file") {
    val base = java.nio.file.Files.createTempDirectory("graft_poison").toString
    // 2 malformed rows (bad int, truncated line) among 3 good ones
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/in.csv"),
      "id,qty\n1,10\n2,notanumber\n3,30\nbroken\n5,50\n")
    def cfg(budget: Int) =
      s"""{"stages": [
         |  {"name": "raw", "op": "csv_permissive", "path": "$base/in.csv",
         |   "schema": "id BIGINT, qty BIGINT"},
         |  {"name": "clean", "op": "error_budget", "from": "raw",
         |   "maxErrors": $budget},
         |  {"name": "out", "op": "agg", "from": "clean",
         |   "keys": [], "aggs": ["sum(qty) AS total", "count(*) AS n"]}
         |]}""".stripMargin
    val got = ConfigPipeline.fromJson(spark, cfg(2)).output("out")
      .as[(Long, Long)].head()
    assert(got == ((90L, 3L))) // corrupt rows dropped, _corrupt_record too
    val ex = intercept[Exception] {
      ConfigPipeline.fromJson(spark, cfg(1)).output("out").collect()
    }
    assert(ex.getMessage.contains("error budget exceeded"))
  }

  test("ConfigPipeline runs a TreeHorn traversal from config") {
    val flat = graft.pipeline.ConfigPipeline.fromJson(spark,
      s"""{"stages": [
         | {"name": "o", "op": "table", "dir": "$sfDir", "table": "orders"},
         | {"name": "doc", "op": "select", "from": "o",
         |  "exprs": ["o_orderkey", "named_struct('info', named_struct('prio', o_orderpriority)) AS payload"]},
         | {"name": "flat", "op": "flatten", "from": "doc",
         |  "key": "prio", "label": "x", "keep": ["o_orderkey"]}
         |]}""".stripMargin).output("flat")
    assert(flat.columns.toSeq == Seq("o_orderkey", "x_prio"))
    assert(flat.count() > 0)
  }
}
