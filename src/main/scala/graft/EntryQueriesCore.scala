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

/** Sources, transforms, aggregation, streaming, sinks, TreeHorn/MTL, config (SparkEntry registry — see [[EntryFixtures]]). */
object EntryQueriesCore {
  import EntryFixtures._

  private[graft] val m: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- sources (A4/A5/A6) ----
    "q_counter" -> ((s, _) => Sources.counter(s, 0, 1000)),
    "q_sequence" -> ((s, _) => Sources.sequence(s, Seq("a", "b", "c"), 2)),
    "q_constant" -> ((s, _) => Sources.constant(s, Map("k" -> "v"), 3)),

    // ---- row-level transforms (B1-B8) ----
    "q_insert_data" -> ((s, dir) =>
      Ops.insertData(T(s, dir, "nation"), Map("source" -> "graft", "version" -> 1L))),
    "q_regex" -> ((s, dir) =>
      Ops.substituteRegex(T(s, dir, "part"), "p_name", " ", "_", Some("p_name_u"))
        .select("p_partkey", "p_name", "p_name_u")),
    "q_remap" -> ((s, dir) =>
      Ops.remap(T(s, dir, "customer"),
        Seq("c_custkey" -> "id", "c_name" -> "name", "c_mktsegment" -> "segment"))),
    // JSON-string column → typed struct → field (reference messages are
    // parsed JSON dicts); explicit schema, codegen from_json
    "q_json" -> ((s, dir) =>
      Ops.parseJson(T(s, dir, "events"), "props", "k INT")
        .select(col("event_id"), col("parsed.k").as("k"))),
    // JSON-Schema validation gate (the reference JsonValidator experiment,
    // working form): heterogeneous synthesized messages validated against
    // a nested schema (types/required/enum/array) — the DuckDB replay is
    // GENERATED from the same compiled schema walk, so the check lists
    // cannot drift (JsonSchemaGate.oracleChecksSql)
    "q_json_schema" -> ((s, dir) =>
      graft.schema.JsonSchemaGate.validate(
          T(s, dir, "events").withColumn("raw", expr(jsonSynthSql)),
          "raw", jsonSchemaDemo, parsedCol = None)
        .select(col("event_id"), col("is_valid"), col("violations"))),
    // STREAMING twin: the gate is a stateless per-row projection, so
    // validating each micro-batch appends exactly the batch answer
    // regardless of how the drain splits files (shares q_json_schema's
    // oracle) — the ingest-side schema firewall a crawl pipeline runs
    // BEFORE anything stateful sees a malformed message
    "q_stream_jsonschema" -> ((s, dir) => withStreamShuffle(s) {
      val msgs = T(s, dir, "events").select(col("event_id"),
        expr(jsonSynthSql).as("raw"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_js").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      // 8 files drained 4 per trigger: the same 2-micro-batch cadence as
      // before, but each batch's validate runs over FOUR file splits —
      // the engine's parallel shape (a real crawl batch is many files),
      // not a 1-file-per-batch fixture artifact (r14; the stateless-
      // projection law means any split appends the same rows, so the
      // oracle is untouched)
      msgs.repartition(8).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(msgs.schema.toDDL),
        maxFilesPerTrigger = 4)
      val run = graft.streaming.Streams.toForeachBatch(stream, ckpt,
        availableNow = true) { (batch, id) =>
        if (!batch.isEmpty)
          graft.schema.JsonSchemaGate.validate(batch, "raw", jsonSchemaDemo,
              parsedCol = None)
            .select(col("event_id"), col("is_valid"), col("violations"))
            .write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      run.awaitTermination()
      s.read.parquet(s"$outDir/batch_*")
    }),
    "q_explode" -> ((s, dir) =>
      Ops.serialize(
        T(s, dir, "documents").withColumn("toks", Text.tokens(col("text"))),
        "toks", "token").select("doc_id", "token")),
    "q_filter" -> ((s, dir) => {
      val ev = Ops.filterTest(
        Ops.filterTest(T(s, dir, "events"), "event_type", Ops.KeyExists),
        "value", Ops.ValueIsNotNone)
      ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "value")
    }),
    "q_sample" -> ((s, dir) => Ops.modSample(T(s, dir, "documents"), "doc_id", 10)),
    "q_apply" -> ((s, dir) =>
      Ops.applyExpr(T(s, dir, "lineitem"), "margin",
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(DoubleType))
        .select("l_orderkey", "l_linenumber", "margin")),

    // ---- aggregation & stateful (C1-C7) ----
    "q_collect" -> ((s, dir) =>
      Ops.aggregateValues(T(s, dir, "documents"), Seq("lang"), "doc_id", "ids")
        .select(col("lang"),
          array_join(transform(col("ids"), _.cast(StringType)), ",").as("doc_ids"))),
    "q_agg" -> ((s, dir) =>
      Ops.groupAgg(T(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"), Seq(
        Ops.moneySum(col("l_quantity")).as("sum_qty"),
        Ops.moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("n_rows"),
        Ops.moneyAvg(col("l_quantity")).as("avg_qty")))),
    "q_batch" -> ((s, dir) =>
      Ops.batchRows(T(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"), 100)
        .select("l_orderkey", "l_linenumber", "batch_id")),
    "q_window" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy(expr("(ts_ns div 1000) div 60000000").as("minute_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), Ops.moneySum(col("value")).as("sum_value"))),
    // sliding windows: 10-minute window every 5 minutes — each event lands
    // in exactly duration/slide windows (Spark `window(ts, dur, slide)`)
    "q_window_sliding" -> ((s, dir) =>
      Ops.timeWindowAgg(
          T(s, dir, "events").withColumn("ts", timestamp_micros(expr("ts_ns div 1000"))),
          "ts", "10 minutes",
          Seq("event_type"),
          Seq(count(lit(1)).as("n_events"), Ops.moneySum(col("value")).as("sum_value")),
          slide = Some("5 minutes"))
        .select(unix_micros(col("window.start")).as("win_us"), col("event_type"),
          col("n_events"), col("sum_value"))),
    "q_join_window" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), expr("ts_ns div 1000").as("p_us"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("user_id"), expr("ts_ns div 1000").as("e_us"))
      Ops.intervalJoin(p, e, Seq("user_id"), col("p_us"), col("e_us"),
          lit(-300000000L), lit(300000000L))
        .select(col("p_id"), col("e_id"), col("__ij_l.user_id").as("user_id"),
          (col("e_us") - col("p_us")).as("dt_us"))
    }),
    // As-of join: each click pairs with the user's latest purchase at or
    // before it. Right side pre-aggregated to unique (user_id, ts) so the
    // union+window shape is deterministic (see Ops.asOfJoin).
    "q_asof" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), expr("ts_ns div 1000").as("l_us"))
      val r = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), expr("ts_ns div 1000").as("r_us"))
        .agg(max(col("value")).as("r_value"))
      Ops.asOfJoin(l, r, Seq("user_id"), "l_us", "r_us", Seq("r_value"))
        .select("event_id", "user_id", "l_us", "r_us", "r_value")
    }),
    // hot-key as-of: same join, shuffled on (key, hour-bucket) with the
    // carry-in pre-pass — shares q_asof's ASOF oracle, proving the bucketed
    // path bit-equal to the key-partitioned one
    "q_asof_bucketed" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), expr("ts_ns div 1000").as("l_us"))
      val r = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), expr("ts_ns div 1000").as("r_us"))
        .agg(max(col("value")).as("r_value"))
      Ops.asOfJoinBucketed(l, r, Seq("user_id"), "l_us", "r_us", Seq("r_value"),
          bucketWidth = 3600L * 1000000L)
        .select("event_id", "user_id", "l_us", "r_us", "r_value")
    }),
    // as-of with NULLABLE payloads: every output value must come from the
    // SAME matched right row — a NULL in one payload column stays NULL
    // (DuckDB ASOF semantics), never back-filled from an older row
    "q_asof_nulls" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), expr("ts_ns div 1000").as("l_us"))
      val r = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), expr("ts_ns div 1000").as("r_us"))
        .agg(max(col("value")).as("__mx"), count(lit(1)).as("r_n"))
        .select(col("user_id"), col("r_us"),
          when(col("__mx") >= lit(10.0), col("__mx")).as("r_value"), col("r_n"))
      Ops.asOfJoin(l, r, Seq("user_id"), "l_us", "r_us", Seq("r_value", "r_n"))
        .select("event_id", "user_id", "l_us", "r_us", "r_value", "r_n")
    }),
    "q_rowstats" -> ((s, dir) => Ops.rowStats(T(s, dir, "customer"))),
    // C6 string→typed inference: cast customer to all-strings (plus synthetic
    // bool/date/timestamp string columns), recover the types via SchemaInfer,
    // and emit the re-typed values — the oracle reads the ORIGINAL typed
    // columns, so every wrong inference shows up as a schema/hash mismatch.
    "q_schema_infer" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val strings = c.select(
        col("c_custkey").cast(StringType).as("custkey"),
        col("c_name").as("name"),
        col("c_nationkey").cast(StringType).as("nationkey"),
        col("c_acctbal").cast(StringType).as("acctbal"),
        when(col("c_custkey") % 2 === 0, "true").otherwise("false").as("vip"),
        date_add(lit("2020-01-01").cast(DateType), (col("c_custkey") % 365).cast(IntegerType))
          .cast(StringType).as("signup"),
        timestamp_seconds(lit(1577836800L) + col("c_custkey") * 60)
          .cast(StringType).as("seen"))
      val typed = graft.schema.SchemaInfer.inferAndApply(strings)
      // dates/timestamps surface as epoch days/micros: unix_date/unix_micros
      // only typecheck on real DATE/TIMESTAMP inputs, and integer output
      // sidesteps engines' differing date reprs
      typed.select(col("custkey"), col("name"), col("nationkey"), col("acctbal"),
        col("vip"), unix_date(col("signup")).cast(LongType).as("signup_days"),
        unix_micros(col("seen")).as("seen_us"))
    }),
    "q_join" -> ((s, dir) => revenuePerNation(s, dir)),
    // HIVE-BUCKETED co-located join (r13, D5): both fact sides written
    // bucketBy(8, join key) with matching counts, then the equi-join
    // plans with ZERO exchanges under the join (the bucketed scans
    // already satisfy the SMJ's partitioning requirement — the total
    // budget's 1 exchange is the groupBy AFTER it; PlanBudgetSpec pins
    // it, LayoutSpec pins the exchange-free join subtree). At 100 TB
    // this converts the recurring fact⋈fact join's two corpus shuffles
    // per run into one bucketed write per ingest. Correctness never
    // depends on the layout — the oracle is the plain join
    "q_bucketed_join" -> ((s, dir) => {
      // one fixed per-JVM temp base (shutdown-hook-deleted) and ONE write
      // per (session, sf-dir): repeated invocations in one JVM — bench
      // iterations, spec re-runs — reuse the layout instead of accumulating
      // a fresh temp dir + catalog relocation each time (r13 ADVICE)
      bucketedFixture(s, dir)
      val o = s.table(bktTable(s, "orders"))
      val l = s.table(bktTable(s, "lineitem"))
      // MERGE hint: pin the sort-merge join the planner picks when both
      // fact sides exceed the broadcast threshold (the regime bucketing
      // exists for) — at bench scale orders would otherwise broadcast
      // and the layout would sit unexercised
      o.join(l.hint("merge"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(Ops.moneySum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_items"))
    }),
    "q_topk" -> ((s, dir) =>
      Ops.topK(T(s, dir, "orders"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 10)
        .select("o_orderkey", "o_custkey", "o_totalprice")),
    "q_window_rank" -> ((s, dir) =>
      Ops.windowRank(T(s, dir, "customer"), Seq("c_nationkey"),
          Seq(col("c_acctbal").desc, col("c_custkey").asc), 3)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          col("rnk").cast(LongType).as("rnk"))),
    // hierarchical aggregates: rollup/cube plan as ONE Expand + aggregate
    // (not N re-scans) — subtotals and grand totals in a single pass
    "q_rollup" -> ((s, dir) =>
      T(s, dir, "orders").rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).as("total"))),
    "q_cube" -> ((s, dir) =>
      T(s, dir, "orders").cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))),

    // data-quality gate: all expectations in ONE aggregate scan
    "q_quality_checks" -> ((s, dir) =>
      Ops.qualityChecks(T(s, dir, "events"),
        Seq(
          "value_nonneg" -> (col("value") >= 0),
          "etype_known" -> col("event_type").isin(
            "click", "view", "purchase", "error", "signup"),
          "user_present" -> col("user_id").isNotNull),
        uniqueCols = Seq("event_id"))),

    // ---- reshaping (B3/C7 companions) ----
    // pivot with a CALLER-NAMED value domain (no discovery pass, bounded
    // row width at scale); absent combinations fill 0
    "q_pivot" -> ((s, dir) =>
      Ops.pivotAgg(T(s, dir, "events"), Seq("user_id"), "event_type",
        Seq("click", "view", "purchase", "error", "signup"), count(lit(1)),
        fillValue = 0L)),
    "q_unpivot" -> ((s, dir) =>
      Ops.unpivotCols(
        Ops.pivotAgg(T(s, dir, "events"), Seq("user_id"), "event_type",
          Seq("click", "view"), count(lit(1)), fillValue = 0L),
        Seq("user_id"), Seq("click", "view"), "event_type", "n")),
    // rolling 3-event window per user: decimal-exact moving sum
    "q_rolling" -> ((s, dir) => {
      val ev = T(s, dir, "events").select(col("event_id"), col("user_id"),
        expr("ts_ns div 1000").as("ts_us"), col("value"))
      Ops.rollingAgg(ev, Seq("user_id"), struct(col("ts_us"), col("event_id")),
          lookback = 3,
          Seq("roll_sum" -> sum(dec(col("value"))), "roll_n" -> count(lit(1))))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("roll_sum").cast(DoubleType).as("roll_sum"), col("roll_n"))
    }),
    // schema-evolving fan-in: two drifted projections union by name,
    // missing columns null-fill
    "q_union_evolved" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      Ops.unionEvolved(Seq(
        c.select(col("c_custkey"), col("c_name")),
        c.select(col("c_custkey"), col("c_acctbal"))))
    }),
    "q_anti_join" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),
    "q_semi_join" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),

    // ---- transforms at nested paths (B5) ----
    "q_transform_at" -> ((s, dir) =>
      Ops.transformAt(
          T(s, dir, "orders").select(col("o_orderkey"),
            struct(col("o_totalprice").as("price")).as("pay")),
          "pay.price", _ * 2)
        .select(col("o_orderkey"), col("pay.price").as("price2x"))),

    // ---- pipeline DAG (E1) ----
    "q_pipeline" -> ((s, dir) =>
      graft.pipeline.Pipeline.empty
        .source("orders", T(s, dir, "orders"))
        .source("customer", T(s, dir, "customer"))
        .stage("f_orders", "orders")(_.filter(col("o_orderstatus") === "F"))
        .fanIn("joined", Seq("f_orders", "customer"))(dfs =>
          dfs(0).join(dfs(1), col("o_custkey") === col("c_custkey")))
        .stage("agg", "joined")(_.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            Ops.moneySum(col("o_totalprice")).as("sum_price")))
        .output("agg")),

    // ---- distributed paginated source (A9) ----
    "q_paginated" -> ((s, _) =>
      Sources.paginatedApi(s, 20, p => (0 until 3).map(i => s"p$p:$i"))),
    // per-row templated GET (deterministic fake fetch; url built in codegen)
    "q_http_template" -> ((s, dir) =>
      Sources.httpTemplate(
        T(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        "http://api.example/{v}/nations/{n_nationkey}?name={n_name}",
        url => Seq(s"resp:$url", s"len:${url.length}"),
        keep = Seq("n_nationkey"),
        constants = Map("v" -> "v2"))),

    // ---- TreeHorn (F1/F2/F3/F4) ----
    "q_treewalk" -> ((s, dir) => {
      val li = T(s, dir, "lineitem"); val o = T(s, dir, "orders")
      val nested = li.groupBy("l_orderkey")
        .agg(collect_list(struct(col("l_linenumber"), col("l_quantity"))).as("lines"))
      val doc = o.join(nested, o("o_orderkey") === nested("l_orderkey"))
        .select(col("o_orderkey"), struct(col("lines")).as("payload"))
      TreeWalk.flattenAtKey(doc, "l_quantity", "item", keep = Seq("o_orderkey"))
    }),
    // GO UP: anchor output at an ancestor of the matched node — walk down to
    // the line-item level, climb back to the struct holding customer info
    "q_treewalk_up" -> ((s, dir) =>
      TreeWalk.walk(orderDoc(s, dir),
        Seq(TreeWalk.GoDown(TreeWalk.HasKey("l_quantity"), "item"),
            TreeWalk.GoUp(TreeWalk.HasDescendantKey("c_name"), "pay")),
        Seq("item.l_quantity" -> "qty", "item.l_partkey" -> "part_key",
            "pay.cust_info.c_name" -> "cust_name"),
        keep = Seq("o_orderkey"))),
    // compound schema conditions + a value predicate on the landed node
    "q_treewalk_cond" -> ((s, dir) =>
      TreeWalk.walk(orderDoc(s, dir),
        Seq(TreeWalk.GoDown(TreeWalk.And(TreeWalk.HasKey("l_quantity"),
            TreeWalk.HasAncestorKey("o_orderkey")), "item")),
        Seq("item.l_quantity" -> "qty", "item.l_linenumber" -> "line_no"),
        keep = Seq("o_orderkey"),
        where = Seq("item.l_quantity" -> (_ >= lit(25))))),
    "q_extract" -> ((s, dir) =>
      TreeWalk.extract(orderDoc(s, dir),
        Seq(TreeWalk.Capture("c_name", "cust"), TreeWalk.Capture("l_quantity", "item")),
        Seq("cust.c_custkey" -> "cust_key", "item.l_quantity" -> "qty"),
        keep = Seq("o_orderkey"))),
    "q_relations" -> ((s, dir) =>
      TreeWalk.relations(orderDoc(s, dir),
        TreeWalk.Capture("c_name", "cust"), "c_custkey",
        TreeWalk.Capture("l_quantity", "item"), "l_partkey", "ORDERED")),

    // ---- MTL front-end (F5) ----
    "q_mtl" -> ((s, dir) => {
      val program = graft.json.MtlParser.parse(
        """QUERY orderq IS SELECT cust.c_custkey AS cust_key,
          |identity(item.l_quantity) AS qty, cust.c_name AS cust_name
          |FROM obj START AT TOP
          |GO DOWN UNTIL HAS KEY c_name AS cust
          |GO DOWN UNTIL HAS KEY l_quantity AS item;""".stripMargin)
      graft.json.MtlParser.run(orderDoc(s, dir), program, "orderq")
    }),

    // MTL function application (treehorn_yaccer.py:392-485: user-defined
    // functions in selection lists): `f(label.key) AS alias` resolves
    // against a caller-supplied Column=>Column registry — the Spark-native
    // equivalent of the reference's imported Python callables. The PYTHON
    // FUNCTION declaration line parses and is ignored (execution is JVM).
    "q_mtl_func" -> ((s, dir) => {
      val program = graft.json.MtlParser.parse(
        """shout IS A PYTHON FUNCTION IMPORTED FROM string.upper;
          |QUERY orderq IS SELECT shout(cust.c_name) AS cust_uc,
          |strlen(cust.c_name) AS name_len, cust.c_custkey AS cust_key
          |FROM obj START AT TOP
          |GO DOWN UNTIL HAS KEY c_name AS cust;""".stripMargin)
      graft.json.MtlParser.run(orderDoc(s, dir), program, "orderq",
        functions = Map(
          "shout" -> (c => upper(c)),
          "strlen" -> (c => length(c).cast(LongType))))
    }),

    // MTL WHERE: predicates parsed from the query text filter before
    // projection (and push down into the scan)
    "q_mtl_where" -> ((s, dir) => {
      val program = graft.json.MtlParser.parse(
        """QUERY orderq IS SELECT cust.c_custkey AS cust_key,
          |item.l_quantity AS qty, item.l_partkey AS part_key
          |FROM obj START AT TOP
          |GO DOWN UNTIL HAS KEY c_name AS cust
          |GO DOWN UNTIL (HAS KEY l_quantity AND NOT HAS KEY c_name) AS item
          |WHERE item.l_quantity >= 25 AND cust.c_custkey > 50;""".stripMargin)
      graft.json.MtlParser.run(orderDoc(s, dir), program, "orderq")
    }),
    // multi-query MTL program: two traversals share ONE evaluation of the
    // document frame; outputs union with a query tag (ints stringified —
    // doubles would format differently across engines)
    "q_mtl_multi" -> ((s, dir) => {
      val program = graft.json.MtlParser.parse(
        """QUERY custq IS SELECT cust.c_custkey AS cust_key, cust.c_name AS cust_name
          |FROM obj START AT TOP
          |GO DOWN UNTIL HAS KEY c_name AS cust;
          |QUERY itemq IS SELECT item.l_partkey AS part_key, item.l_linenumber AS line_no
          |FROM obj START AT TOP
          |GO DOWN UNTIL HAS KEY l_quantity AS item;""".stripMargin)
      val ts = graft.json.MtlParser.runProgram(orderDoc(s, dir), program)
      ts("custq").select(lit("custq").as("src"),
          col("cust_key").cast(StringType).as("a"), col("cust_name").as("b"))
        .unionByName(ts("itemq").select(lit("itemq").as("src"),
          col("part_key").cast(StringType).as("a"),
          col("line_no").cast(StringType).as("b")))
    }),

    // MTL coreference: cust_key and cust_name name the same entity; output =
    // min-label connected components over the value graph (2 LP rounds)
    "q_coreference" -> ((s, dir) => {
      val program = graft.json.MtlParser.parse(
        """QUERY orderq IS SELECT cust.c_custkey AS cust_key, cust.c_name AS cust_name
          |FROM obj START AT TOP
          |GO DOWN UNTIL HAS KEY c_name AS cust;
          |IN QUERY orderq cust_key AND cust_name COREFER;""".stripMargin)
      graft.json.MtlParser.coreferenceGroups(orderDoc(s, dir), program, "orderq")
    }),

    // compound-name entities: identity = content hash of ordered components
    // (deterministic replacement for the reference's per-row uuid4)
    "q_compound_entity" -> ((s, dir) => {
      val rows = TreeWalk.extract(orderDoc(s, dir),
        Seq(TreeWalk.Capture("c_name", "cust")),
        Seq("cust.c_custkey" -> "cust_key", "cust.c_name" -> "cust_name"))
      graft.json.MtlParser.compoundEntities(rows, Seq("cust_key", "cust_name"))
    }),
    // canonicalized knowledge base: relation edges with coreference
    // canonical ids substituted at both endpoints (broadcast rewrites)
    "q_kb_canonical" -> ((s, dir) => {
      val program = graft.json.MtlParser.parse(
        """QUERY orderq IS SELECT cust.c_custkey AS cust_key,
          |cust.c_name AS cust_name, item.l_partkey AS part_key
          |FROM obj START AT TOP
          |GO DOWN UNTIL HAS KEY c_name AS cust
          |GO DOWN UNTIL HAS KEY l_quantity AS item;
          |IN QUERY orderq cust NAMED BY cust_key IS RELATED TO part NAMED BY part_key AS ordered;
          |IN QUERY orderq cust_key AND cust_name COREFER;""".stripMargin)
      graft.json.MtlParser.knowledgeBase(orderDoc(s, dir), program, "orderq")
        .select("src_id", "dst_id", "rel")
    }),
    // relationship properties (nft_nodes.py:834): edge property k/v pairs
    // asserted from a selection alias, exploded for the oracle
    "q_kb_props" -> ((s, dir) => {
      val program = graft.json.MtlParser.parse(
        """QUERY orderq IS SELECT cust.c_custkey AS cust_key,
          |item.l_partkey AS part_key, item.l_linenumber AS line_no
          |FROM obj START AT TOP
          |GO DOWN UNTIL HAS KEY c_name AS cust
          |GO DOWN UNTIL HAS KEY l_quantity AS item;
          |IN QUERY orderq cust NAMED BY cust_key IS RELATED TO part NAMED BY part_key AS ordered WITH PROPERTY line BY line_no;""".stripMargin)
      graft.json.MtlParser.relationTables(orderDoc(s, dir), program, "orderq").head
        .select(col("src_id").cast("string").as("src_id"),
          col("dst_id").cast("string").as("dst_id"), col("rel"),
          explode(col("props")).as("p"))
        .select(col("src_id"), col("dst_id"), col("rel"),
          col("p.k").as("k"), col("p.v").as("v"))
    }),

    // ---- config-built pipeline (E4) ----
    "q_config" -> ((s, dir) =>
      graft.pipeline.ConfigPipeline.fromJson(s,
        s"""{"stages": [
           | {"name": "orders", "op": "table", "dir": "$dir", "table": "orders"},
           | {"name": "f", "op": "filter", "from": "orders", "expr": "o_orderstatus = 'F'"},
           | {"name": "agg", "op": "agg", "from": "f", "keys": ["o_orderpriority"],
           |  "aggs": ["COUNT(*) AS n_orders",
           |           "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price"]}
           |]}""".stripMargin).output("agg")),

    // config-built LLM-data pipeline: split → filter train → exact dedup,
    // entirely from JSON (E4 reaching the G ops)
    "q_config_llm" -> ((s, dir) =>
      graft.pipeline.ConfigPipeline.fromJson(s,
        s"""{"stages": [
           | {"name": "docs", "op": "table", "dir": "$dir", "table": "documents"},
           | {"name": "sp", "op": "split", "from": "docs", "id": "doc_id", "trainPct": 90},
           | {"name": "train", "op": "filter", "from": "sp", "expr": "split = 'train'"},
           | {"name": "dd", "op": "dedup_exact", "from": "train", "id": "doc_id", "text": "text"}
           |]}""".stripMargin).output("dd")),

    // config-built INDEX lifecycle (E4 + G52, r12): the config path stands
    // a stored IVF-SQ index UP (sq_index_write — trained coarse quantizer
    // by default) and probes it in the SAME pipeline; nprobe = nlist makes
    // the probe ≡ the exhaustive sqTopK scan, so the whole build→probe
    // chain shares q_sq_topk's oracle bit for bit
    "q_config_index" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_cfg_idx").toString
      graft.pipeline.ConfigPipeline.fromJson(s,
        s"""{"stages": [
           | {"name": "c", "op": "table", "dir": "$dir", "table": "embeddings"},
           | {"name": "built", "op": "sq_index_write", "from": "c",
           |  "id": "vec_id", "vec": "embedding", "dim": 64,
           |  "dir": "$base/sq", "nlist": 16},
           | {"name": "qf", "op": "filter", "from": "c", "expr": "vec_id < 8"},
           | {"name": "nn", "op": "sq_index_probe", "from": "qf",
           |  "id": "vec_id", "vec": "embedding", "dir": "$base/sq",
           |  "topK": 3, "nprobe": 16}
           |]}""".stripMargin).output("nn")
    }),

    // ---- bucketed interval join (C5 scale path; same oracle as q_join_window) ----
    "q_join_window_bucketed" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), expr("ts_ns div 1000").as("p_us"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("user_id"), expr("ts_ns div 1000").as("e_us"))
      Ops.intervalJoinBucketed(p, e, Seq("user_id"), "p_us", "e_us",
          -300000000L, 300000000L, bucketWidth = 600000000L)
        .select(col("p_id"), col("e_id"), col("__ij_l.user_id").as("user_id"),
          (col("e_us") - col("p_us")).as("dt_us"))
    }),

    // ---- streaming end-to-end (A3 + C4 + D3/E2) ----
    // file-stream source → event-time windowed agg → foreachBatch parquet
    // recorder, drained with AvailableNow. Complete mode makes the final
    // parquet the full aggregate regardless of how files split into
    // micro-batches, so the result is batch-deterministic and oracle-able.
    "q_stream_e2e" -> ((s, dir) => withStreamShuffle(s) {
      val ev = T(s, dir, "events").select(col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"), col("value"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_e2e").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      // 2 files × maxFilesPerTrigger=1 = two micro-batches: enough to prove
      // batch-split determinism at half the per-batch overhead of 4
      ev.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
          format = "parquet", schemaDdl = Some(ev.schema.toDDL),
          maxFilesPerTrigger = 1)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val agg = stream
        .groupBy(window(col("ts"), "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), Ops.moneySum(col("value")).as("sum_value"))
        .select(unix_micros(col("window.start")).as("win_us"), col("event_type"),
          col("n_events"), col("sum_value"))
      val q = graft.streaming.Streams.toForeachBatch(agg, ckpt,
        availableNow = true, outputMode = "complete") { (batch, _) =>
        batch.write.mode("overwrite").parquet(outDir)
      }
      q.awaitTermination()
      s.read.parquet(outDir)
    }),

    // stream-static broadcast enrichment, end to end: file-stream events
    // (no stateful operator here, but the per-batch sink write still plans
    // at the session shuffle setting — scoped down with the rest)
    // left-join the customer dim map-side (zero stream-side shuffle),
    // appended to parquet per micro-batch — row-level, so any batch split
    // yields the same total output (2 files × 1 file/trigger here)
    "q_stream_enrich" -> ((s, dir) => withStreamShuffle(s) {
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_enr").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      ev.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(ev.schema.toDDL),
        maxFilesPerTrigger = 1)
      val dim = T(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val enriched = graft.streaming.Streams.enrich(stream, dim, Seq("user_id"))
      val q = graft.streaming.Streams.toForeachBatch(enriched, ckpt,
        availableNow = true, outputMode = "append") { (batch, _) =>
        batch.write.mode("append").parquet(outDir)
      }
      q.awaitTermination()
      s.read.parquet(outDir)
    }),

    // stream-stream interval join, end to end: purchases and errors arrive
    // as two independent file streams; the inner join with a ±300 s event-
    // time range emits each matched pair exactly once as state meets state
    // (batch-split independent). Watermark is set beyond the data's span so
    // no state evicts mid-replay — production use sets the real lag bound
    // and trades tail completeness for bounded state (see Streams.streamJoin).
    "q_stream_join" -> ((s, dir) => withStreamShuffle(s) {
      val ev = T(s, dir, "events")
      val base = java.nio.file.Files.createTempDirectory("graft_stream_join").toString
      val pDir = s"$base/p"; val eDir = s"$base/e"
      val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), expr("ts_ns div 1000").as("p_us"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("user_id"), expr("ts_ns div 1000").as("e_us"))
      p.repartition(2).write.mode("overwrite").parquet(pDir)
      e.repartition(2).write.mode("overwrite").parquet(eDir)
      val ps = graft.streaming.Streams.watchDirectory(s, pDir, format = "parquet",
          schemaDdl = Some(p.schema.toDDL), maxFilesPerTrigger = 1)
        .withColumn("p_ts", timestamp_micros(col("p_us")))
      val es = graft.streaming.Streams.watchDirectory(s, eDir, format = "parquet",
          schemaDdl = Some(e.schema.toDDL), maxFilesPerTrigger = 1)
        .withColumn("e_ts", timestamp_micros(col("e_us")))
      val joined = graft.streaming.Streams.streamJoin(ps, es, Seq("user_id"),
        "p_ts", "e_ts", watermark = "30 days", timeout = "300 seconds")
      val out = joined.select(col("p_id"), col("e_id"),
        ps("user_id").as("user_id"), (col("e_us") - col("p_us")).as("dt_us"))
      val q = graft.streaming.Streams.toForeachBatch(out, ckpt,
        availableNow = true, outputMode = "append") { (batch, _) =>
        batch.write.mode("append").parquet(outDir)
      }
      q.awaitTermination()
      s.read.parquet(outDir)
    }),

    // ---- sessionization (C4 dynamic windows) ----
    // gap sessions over events: 10-minute inactivity splits; window-function
    // (scale) form and flatMapGroupsWithState (stateful) form share one oracle
    "q_sessionize" -> ((s, dir) =>
      Ops.sessionize(
          T(s, dir, "events").select(col("user_id"), expr("ts_ns div 1000").as("ts_us")),
          Seq("user_id"), "ts_us", gap = 600000000L)
        .select("user_id", "session_id", "session_start", "session_end", "n_events")),
    // celebrity-key-safe two-phase form: per-(user, hour-bucket) local
    // tags chained through summary rows — bit-identical to q_sessionize
    // (shares its oracle) with the per-key skew ceiling removed
    // (plans/SKEW.md r11 measures the hot-user decade)
    "q_sessionize_segmented" -> ((s, dir) =>
      Ops.sessionizeSegmented(
          T(s, dir, "events").select(col("user_id"), expr("ts_ns div 1000").as("ts_us")),
          Seq("user_id"), "ts_us", gap = 600000000L, segment = 3600000000L)
        .select("user_id", "session_id", "session_start", "session_end", "n_events")),
    // DIALOGUE-PACK flagship: the conversation-data training-prep flow in
    // one query — gap-sessionize the event stream (sessionTag keeps the
    // member rows), assemble each session's events into one time-ordered
    // "dialogue" string (ties break on the utterance text), then pack the
    // dialogues into fixed-token-budget training sequences (packByBudget
    // over (user_id, session_id) order). Every stage is deterministic
    // integer/string work, so the whole flow replays in SQL.
    "q_dialogue_pack" -> ((s, dir) => {
      // null utterances filter out BEFORE tagging (matching the oracle's
      // WHERE): an ALL-null session would otherwise diverge — Spark's
      // array_join yields "" where DuckDB's string_agg yields NULL
      val ev = T(s, dir, "events").select(col("user_id"),
        expr("ts_ns div 1000").as("ts_us"), col("event_type"))
        .filter(col("event_type").isNotNull)
      val tagged = Ops.sessionTag(ev, Seq("user_id"), "ts_us",
        gap = 600000000L)
      val dialogues = tagged.groupBy("user_id", "session_id")
        .agg(array_join(transform(
            sort_array(collect_list(struct(col("ts_us"), col("event_type")))),
            x => x.getField("event_type")), " ").as("dialogue"),
          count(lit(1)).as("n_tokens"))
      // per-user packing: each user's sessions fill that user's context
      // windows in session order — the exchange stays keyed (a global
      // pack would funnel every dialogue through one window task)
      Ops.packByBudget(dialogues, Seq("user_id"), Seq("session_id"),
          "n_tokens", budget = 50L)
        .select("user_id", "session_id", "dialogue", "n_tokens", "bin_id")
    }),
    "q_sessionize_state" -> ((s, dir) => {
      import s.implicits._
      val ev = T(s, dir, "events")
        .select(col("user_id"), expr("ts_ns div 1000").as("ts_us")).as[(Long, Long)]
      graft.streaming.Streams.sessionizeState(ev, gap = 600000000L)
        .toDF("user_id", "session_id", "session_start", "session_end", "n_events")
    }),

    // streaming keep-best dedup: per-user best-value event via keyed state,
    // drained as a changelog (update mode, per-batch dirs) and compacted to
    // final states by max n_copies — which strictly increases per key, so
    // the compaction is exact under ANY batch split (2 files × 1/trigger)
    "q_stream_keepbest" -> ((s, dir) => withStreamShuffle(s) {
      import s.implicits._
      val ev = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("user_id").cast(StringType).as("key"),
          col("event_id"), col("value"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_kb").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      ev.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
          format = "parquet", schemaDdl = Some(ev.schema.toDDL), maxFilesPerTrigger = 1)
        .as[(String, Long, Double)]
      val best = graft.streaming.Streams.keepBestStream(stream)
        .toDF("key", "keep_id", "keep_score", "n_copies")
      val q = graft.streaming.Streams.toForeachBatch(best, ckpt,
        availableNow = true, outputMode = "update") { (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      s.read.parquet(s"$outDir/batch_*")
        .groupBy("key")
        .agg(max(struct(col("n_copies"), col("keep_score"), col("keep_id"))).as("__f"))
        .select(col("key"), col("__f.keep_id").as("keep_id"),
          col("__f.keep_score").as("keep_score"), col("__f.n_copies").as("n_copies"))
    }),

    // streaming repetition stats: per-document Gopher metrics computed as
    // documents arrive (one in-memory pass per doc via keyed state, state
    // dropped immediately); row-level per doc → any batch split appends
    // the same total output; shares q_repetition's oracle shape
    "q_stream_repetition" -> ((s, dir) => withStreamShuffle(s) {
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val base = java.nio.file.Files.createTempDirectory("graft_stream_rep").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      docs.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(docs.schema.toDDL), maxFilesPerTrigger = 1)
      val stats = graft.streaming.Streams.repetitionStatsStream(
        stream, "doc_id", "text", n = 2)
      val q = graft.streaming.Streams.toForeachBatch(stats, ckpt,
        availableNow = true, outputMode = "append") { (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      s.read.parquet(s"$outDir/batch_*")
        .select(col("id").as("doc_id"), col("n_grams"), col("n_distinct"),
          col("dup_frac"), col("top_frac"))
    }),

    // ---- JDBC write → partitioned read-back (A8 + D4, embedded Derby) ----
    // real database round-trip: overwrite-write nation into Derby, then read
    // it back through the 4-way partitioned JDBC scan; the oracle reads the
    // original parquet, so any type/value mangling in either direction fails.
    // r16: the in-memory Derby is served through graft.sources.JdbcBridge
    // (a reflective JDBC-over-TCP proxy on the driver JVM), so the
    // executor-side WRITE works from ANY JVM — retiring the last
    // local-cluster environmental skip (in-memory Derby is per-JVM and no
    // derbynet/H2 jar exists here; the read-only jar device that fixed
    // q_jdbc_query/q_jdbc_typed cannot carry a write). plans/CLUSTER.md.
    "q_jdbc_roundtrip" -> ((s, dir) => {
      derbyEngineProps
      // bridge only under multi-JVM masters — single-JVM writes reach
      // the embedded Derby directly (the 0.13 s path; see ensureFor)
      val (url, drv) = graft.sources.JdbcBridge.ensureFor(s,
        "jdbc:derby:memory:graft_rt;create=true",
        "org.apache.derby.jdbc.EmbeddedDriver")
      val n = T(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      Sinks.jdbcWrite(n, url, "nation_rt", drv, mode = "overwrite")
      Sources.jdbcTable(s, url, "nation_rt",
        partitionColumn = Some("n_nationkey"), lowerBound = 0L, upperBound = 25L,
        numPartitions = 4, extra = drv)
    }),

    // introspected typed read (StreamMySQLTable shape): seed a table with
    // a BINARY column into a read-only jar-archived Derby (multi-JVM-legal
    // — see derbyJarFixture), read its column types back through JDBC
    // metadata, apply them via SchemaInfer, and hex-surface the blob — the
    // oracle recomputes the hex from the source parquet, so a mangled type
    // map or byte round-trip fails
    "q_jdbc_typed" -> ((s, dir) => {
      val src = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), unhex(md5(col("c_name"))).as("c_sig"))
      val (url, drv) = derbyJarFixture(src, "ty", "customer_ty",
        Seq("c_custkey" -> "BIGINT", "c_name" -> "VARCHAR(64)",
          "c_sig" -> "BLOB"))
      val cols = Sources.jdbcColumns(url, "customer_ty", drv)
      Sources.jdbcTyped(s, url, "customer_ty", cols,
          partitionColumn = Some("c_custkey"), lowerBound = 0L, upperBound = 1500L,
          numPartitions = 4, extra = drv)
        .select("c_custkey", "c_name", "c_sig_hex")
    }),

    // JDBC SQL-pushdown source: the WHERE/aggregate runs inside Derby and
    // only the result set reaches Spark (Civis SQLExecute/FindValue shape);
    // the database is the read-only jar fixture, so the pushdown executes
    // inside whichever JVM Spark schedules it on
    "q_jdbc_query" -> ((s, dir) => {
      // the seed is FIXTURE-sized: only rows the pushdown predicate can
      // ever touch are loaded (a strict superset of the query's
      // > 200000 cut, so the in-database WHERE still discards rows and
      // the result is unchanged at any SF) — seeding the full order book
      // through one driver JDBC connection was the slowest bench row
      val o = T(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_totalprice") > 150000.0)
      val (url, drv) = derbyJarFixture(o, "q", "orders_q",
        Seq("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
          "o_totalprice" -> "DOUBLE"))
      // identifiers quoted: the fixture DDL quotes columns case-preserved,
      // and unquoted references would uppercase and miss them
      Sources.jdbcQuery(s, url,
        """SELECT "o_custkey", COUNT(*) AS n_big, MAX("o_totalprice") AS max_price
          |FROM orders_q WHERE "o_totalprice" > 200000.0 GROUP BY "o_custkey"""".stripMargin,
        extra = drv)
        .select(col("o_custkey").as("o_custkey"),
          col("n_big").cast(LongType).as("n_big"),
          col("max_price").as("max_price"))
    }),

    // ---- sink round trips (D3/D4): record → read back → oracle ----
    "q_recorder_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_rec").toString + "/rec"
      Sinks.recorder(T(s, dir, "nation"), out)
      s.read.parquet(out)
    }),
    // graph export: entity+edge parquet layout; edges read back must equal
    // the relation extraction they came from (q_relations' oracle)
    "q_graph_roundtrip" -> ((s, dir) => {
      // entity AND edge exports both walk the doc — persist it or the
      // join+collect_list scaffold runs twice
      val doc = orderDoc(s, dir)
        .trackedPersist()
      val cust = TreeWalk.Capture("c_name", "cust")
      val item = TreeWalk.Capture("l_quantity", "item")
      val out = java.nio.file.Files.createTempDirectory("graft_graph").toString
      Sinks.graphExport(
        Map("cust" -> TreeWalk.entities(doc, cust, "c_custkey")),
        Map("ordered" -> TreeWalk.relations(doc, cust, "c_custkey", item, "l_partkey", "ORDERED")),
        out)
      s.read.parquet(s"$out/edges_ordered")
    }),

    // partition-layout write → pruned read: only the lang='en' directory is
    // scanned (PlanSpec asserts the PartitionFilters); oracle = plain WHERE
    "q_partition_pruning" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_part").toString + "/docs"
      Sinks.writePartitioned(
        T(s, dir, "documents").select("doc_id", "text", "lang"), out, Seq("lang"))
      s.read.parquet(out).filter(col("lang") === "en").select("doc_id", "lang")
    }),

    // fragment → compact → read back: content must survive bit-for-bit
    "q_compact_roundtrip" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_cmp").toString
      val frag = s"$base/frag"; val out = s"$base/out"
      T(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey")
        .repartition(16).write.parquet(frag)
      Sinks.compact(s, frag, out)
      s.read.parquet(out)
    }),
    // ATOMIC-SWAP rewrite round trip (the index write-back device): first
    // swapWrite creates the dir as gen-0, the second READS the live
    // generation through readIndex and writes it back as gen-1 — the
    // exact maintenance loop every stored-index family runs; the
    // read-back must be the full unchanged table (partition layout
    // included)
    "q_swap_roundtrip" -> ((s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft_swp").toString + "/idx"
      Sinks.swapWrite(
        T(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey"),
        idx, Seq("c_nationkey"))
      def live() = graft.streaming.Streams.readIndex(s, idx)
      Sinks.swapWrite(live(), idx, Seq("c_nationkey"))
      live().select(col("c_custkey"),
        col("c_name"), col("c_nationkey").cast(LongType).as("c_nationkey"))
    }),
    // the same roundtrip through RETENTION: three generations, so the
    // third swap retires gen-0 (keepGenerations = 2) while gen-2 reads
    // gen-1 — the read-back must still be the full unchanged table.
    // Shares q_swap_roundtrip's oracle.
    "q_swap_pointer" -> ((s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft_swp_p").toString + "/idx"
      Sinks.swapWrite(
        T(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey"),
        idx, Seq("c_nationkey"))
      def live() = graft.streaming.Streams.readIndex(s, idx)
      Sinks.swapWrite(live(), idx, Seq("c_nationkey"))
      Sinks.swapWrite(live(), idx, Seq("c_nationkey"))
      val gen0 = new org.apache.hadoop.fs.Path(idx, "gen-0")
      require(!gen0.getFileSystem(s.sparkContext.hadoopConfiguration).exists(gen0),
        s"retention kept $gen0 past keepGenerations")
      live().select(col("c_custkey"),
        col("c_name"), col("c_nationkey").cast(LongType).as("c_nationkey"))
    }),
    // Z-ORDER layout (D5): the Morton keys zorderWrite range-partitions by.
    // Binning and interleave are pure BIGINT arithmetic, so the oracle
    // replays every key bit-exactly; the file-skip win the layout buys is
    // measured in plans/LAYOUT.md and pinned by LayoutSpec.
    // floor() on BOTH sides before the bigint cast: o_totalprice is DOUBLE
    // and a bare double→BIGINT cast TRUNCATES in Spark but ROUNDS in DuckDB
    // (±1 cents on ~5% of rows — latent bin flips); floor-then-cast is the
    // same IEEE value in both engines
    "q_zorder" -> ((s, dir) =>
      Sinks.zorderValue(
        T(s, dir, "orders").withColumn("cents",
          expr("cast(floor(o_totalprice * 100) as bigint)")),
        Seq("o_custkey", "cents"), bits = 8)
        .select(col("o_orderkey"), col("zval"))),
    // GLOBAL TRAINING SHUFFLE: shard + in-shard position are a pure
    // function of (seed, id) — the oracle replays the whole permutation
    "q_corpus_shuffle" -> ((s, dir) =>
      Ops.corpusShuffle(T(s, dir, "documents"), "doc_id", seed = 7L,
          numShards = 8)
        .select(col("doc_id"), col("shard"), col("pos").cast("long").as("pos"))),
    // SHARD MANIFEST: per-shard row count, content length, and an
    // order-independent xor digest over (id, text) — the integrity check
    // two independent exports compare before training starts; the oracle
    // replays sharding, hashing, and the xor fold exactly
    "q_manifest" -> ((s, dir) =>
      Ops.shardManifest(
        Ops.corpusShuffle(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", seed = 7L, numShards = 8),
        "shard", "doc_id", "text")),
    // STREAMING manifest twin: count, char-sum, and xor are all MERGEABLE
    // (that mergeability is the digest's design point — it's why an
    // export's manifest is order/parallelism-independent), so the
    // complete-mode streaming aggregate over the sharded corpus drained
    // as a file stream converges to the batch manifest EXACTLY at the
    // final micro-batch — shares q_manifest's oracle
    "q_stream_manifest" -> ((s, dir) => withStreamShuffle(s) {
      val sharded = Ops.corpusShuffle(
        T(s, dir, "documents").select("doc_id", "text"), "doc_id",
        seed = 7L, numShards = 8).select("shard", "doc_id", "text")
      val base = java.nio.file.Files.createTempDirectory("graft_stream_man").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      sharded.repartition(4).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
        format = "parquet", schemaDdl = Some(sharded.schema.toDDL),
        maxFilesPerTrigger = 1)
      val manifest = Ops.shardManifest(stream, "shard", "doc_id", "text")
      val q = graft.streaming.Streams.toForeachBatch(manifest, ckpt,
        availableNow = true, outputMode = "complete") { (batch, _) =>
        batch.write.mode("overwrite").parquet(outDir)
      }
      q.awaitTermination()
      s.read.parquet(outDir)
    }),

    // ---- file-format round trips (A1/A2): write → read back → oracle vs
    // the source parquet, so header/quoting/type-inference mangling fails ----
    "q_csv_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/nation"
      T(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
        .coalesce(1).write.option("header", "true").mode("overwrite").csv(out)
      Sources.csv(s, out)
    }),
    // CSV SINK (D: CivisToCSV shape): Sinks.csvWrite → typed re-read with
    // the source frame's own DDL, so decimals/doubles don't drift through
    // re-inference; distributed write (no coalesce — one file per task)
    "q_csv_write_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_csvw").toString + "/orders"
      val src = T(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      Sinks.csvWrite(src, out)
      Sources.csv(s, out, schemaDdl = Some(src.schema.toDDL))
    }),
    "q_text_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_text").toString + "/docs"
      T(s, dir, "documents").select("text").write.mode("overwrite").text(out)
      Sources.textLines(s, out)
    }),

    // streaming session windows end-to-end: file stream → session_window
    // agg (complete mode: the final batch is the whole deterministic
    // answer regardless of file/batch splits) → parquet → oracle. DuckDB
    // mirror uses the >= gap break (session_window merges strictly-inside
    // events) and end = last event + gap.
    "q_stream_sessions" -> ((s, dir) => withStreamShuffle(s) {
      val ev = T(s, dir, "events").select(col("user_id"), expr("ts_ns div 1000").as("ts_us"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_sess").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      ev.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
          format = "parquet", schemaDdl = Some(ev.schema.toDDL), maxFilesPerTrigger = 1)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val agg = stream
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("s_us"),
          unix_micros(col("session_window.end")).as("e_us"),
          col("n_events"))
      val q = graft.streaming.Streams.toForeachBatch(agg, ckpt,
        availableNow = true, outputMode = "complete") { (batch, _) =>
        batch.write.mode("overwrite").parquet(outDir)
      }
      q.awaitTermination()
      s.read.parquet(outDir)
    }),

    // streaming exact-dedup end-to-end: duplicated file stream →
    // dropDuplicates within the watermark horizon (sized to cover the whole
    // bounded replay, so the result is the global distinct) → parquet
    "q_stream_dedup" -> ((s, dir) => withStreamShuffle(s) {
      val ev = T(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr("ts_ns div 1000").as("ts_us"))
      val base = java.nio.file.Files.createTempDirectory("graft_stream_dd").toString
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      // write the input TWICE — the stream must actually drop repeats
      ev.repartition(1).write.mode("overwrite").parquet(inDir)
      ev.repartition(1).write.mode("append").parquet(inDir)
      val stream = graft.streaming.Streams.watchDirectory(s, inDir,
          format = "parquet", schemaDdl = Some(ev.schema.toDDL), maxFilesPerTrigger = 1)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val dd = graft.streaming.Streams.dedupStream(stream, "ts",
          watermark = "36500 days", keys = Seq("user_id", "event_type"))
        .select("user_id", "event_type", "ts_us")
      // per-batchId overwrite = idempotent under foreachBatch's
      // at-least-once retries (a plain append would duplicate a replayed
      // micro-batch)
      val q = graft.streaming.Streams.toForeachBatch(dd, ckpt,
        availableNow = true, outputMode = "append") { (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
      s.read.parquet(s"$outDir/batch_*")
    }),

    // env-var config source: a deterministically-unset variable yields the
    // one-row frame with a typed null (set-var behavior is spec-covered —
    // real env values cannot cross the Spark/DuckDB boundary)
    "q_envvars" -> ((s, _) =>
      Sources.envVars(s, Seq("GRAFT_UNSET_SENTINEL_XYZ"))
        .select(col("GRAFT_UNSET_SENTINEL_XYZ").cast(StringType).as("v"))),

    // ---- multimodal plumbing (G12) ----
    "q_multimodal" -> ((s, dir) => {
      val media = Multimodal.fakeMedia(s, T(s, dir, "documents"), "doc_id")
      Multimodal.decodeFeatures(s, media)
        .select(col("id"), col("format"), col("n_bytes"), col("byte_sum"),
          col("mean_byte"), size(col("frame_hashes")).as("n_sampled"))
    }),

  )
}
