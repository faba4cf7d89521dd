package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Caching
import graft.RunPipeline
import graft.dedup.Dedup
import graft.functions.Bpe
import graft.json.{MtlParser, TreeWalk}
import graft.operators.Ops
import graft.pipeline.ConfigPipeline
import graft.sources.Tables

/** etl_batch: closed loop, one client. Each op pushes one equal-size,
  * distinct slice through metalpipe's core ETL, one public call per step.
  * The op opens its two stored input tables first (`Tables.load`); those
  * two opens, timed inside the op, are the workload's probes. Outputs are
  * checked against plain Spark SQL over the same slices once the window
  * has closed.
  */
object EtlBatch {
  // slice shape: every slice has exactly these row counts
  val CustPerSlice = 24
  val OrdersPerCust = 3 // closure chain length: one growing round + one confirming
  val UsersPerSlice = 40
  val ClicksPerUser = 12
  val DocsPerSlice = 160
  val Customers = 400
  val SessionGap = 600L
  // BPE: each op runs BpeRounds merge rounds of MergesPerRound merges
  val BpeRounds = 2
  val MergesPerRound = 8

  // fixed per run: the fewest ops whose tail has 10 samples beyond it
  val MinOps = 25
  val OpsPerSecond = 0.4
  val Branches = 4

  val PayloadDdl =
    "order STRUCT<okey: BIGINT, cust: STRUCT<cid: BIGINT, cname: STRING>, " +
      "items: ARRAY<STRUCT<sku: STRING, qty: INT, part: STRUCT<pid: BIGINT, brand: STRING>>>>"

  def recordsPerSlice: Long =
    CustPerSlice * OrdersPerCust + UsersPerSlice * ClicksPerUser + DocsPerSlice

  private def config(sliceDir: String, dimDir: String): String =
    s"""{"stages": [
       |  {"name": "orders", "op": "table", "dir": "$sliceDir", "table": "orders"},
       |  {"name": "cust", "op": "table", "dir": "$dimDir", "table": "customer"},
       |  {"name": "big", "op": "filter", "from": "orders", "expr": "o_totalprice >= 20"},
       |  {"name": "parsed", "op": "withColumn", "from": "big", "col": "p",
       |   "expr": "from_json(o_payload, '$PayloadDdl')"},
       |  {"name": "joined", "op": "join", "from": ["parsed", "cust"], "on": "o_custkey = c_custkey"},
       |  {"name": "by_cust", "op": "agg", "from": "joined", "keys": ["o_custkey", "c_segment"],
       |   "aggs": ["count(1) AS n_orders", "sum(o_totalprice) AS revenue",
       |            "sum(aggregate(p.order.items, 0, (acc, x) -> acc + x.qty)) AS units"]},
       |  {"name": "clicks", "op": "table", "dir": "$sliceDir", "table": "clicks"},
       |  {"name": "sessions", "op": "sessionize", "from": "clicks", "keys": ["user_id"],
       |   "ts": "ts", "gap": $SessionGap},
       |  {"name": "activity", "op": "join", "from": ["sessions", "by_cust"],
       |   "on": "user_id = o_custkey", "how": "left"}
       |]}""".stripMargin

  /** Generate `n` slices plus the customer dimension under `dir`. */
  private def generate(c: Ctx, dir: String, n: Int): Unit = {
    val spark = c.spark
    import spark.implicits._
    val rng = c.rng(1)
    val words = new Words(rng, 400)
    val orders = Seq.newBuilder[(Int, Long, Long, Int, String, String)]
    val clicks = Seq.newBuilder[(Int, Long, Long, String)]
    val docs = Seq.newBuilder[(Int, Long, String)]
    val kinds = Array("view", "cart", "buy", "search")
    for (s <- 0 until n) {
      val custs = rng.shuffle((1 to Customers).toVector).take(CustPerSlice)
      var ok = 0L
      for (cust <- custs) {
        val days = rng.shuffle((0 until 365).toVector).take(OrdersPerCust).sorted
        for (d <- days) {
          ok += 1
          val key = s * 100000L + ok
          val items = (0 to rng.nextInt(3)).map { _ =>
            val pid = 1 + rng.nextInt(300)
            s"""{"sku":"s${rng.nextInt(50)}","qty":${1 + rng.nextInt(9)},""" +
              s""""part":{"pid":$pid,"brand":"b${pid % 7}"}}"""
          }
          val payload = s"""{"order":{"okey":$key,"cust":{"cid":$cust,""" +
            s""""cname":"${Words.word(cust)}"},"items":[${items.mkString(",")}]}}"""
          val price = f"${1 + rng.nextInt(500)}.${rng.nextInt(100)}%02d"
          orders += ((s, key, cust.toLong, d, price, payload))
        }
      }
      val users = rng.shuffle((1 to Customers).toVector).take(UsersPerSlice)
      for (u <- users) {
        var ts = 1700000000L + rng.nextInt(100000)
        for (_ <- 0 until ClicksPerUser) {
          ts += 30 + rng.nextInt(1200)
          clicks += ((s, u.toLong, ts, kinds(rng.nextInt(kinds.length))))
        }
      }
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      for (j <- 1 to DocsPerSlice) {
        val t = if (texts.nonEmpty && rng.nextDouble() < 0.15) texts(rng.nextInt(texts.size))
                else words.text(6, 14)
        texts += t
        docs += ((s, s * 100000L + j, t))
      }
    }
    val stage = s"$dir/stage"
    orders.result().toDF("slice", "o_orderkey", "o_custkey", "o_orderdate", "price", "o_payload")
      .withColumn("o_totalprice", col("price").cast("decimal(12,2)")).drop("price")
      .write.partitionBy("slice").parquet(s"$stage/orders")
    clicks.result().toDF("slice", "user_id", "ts", "kind")
      .write.partitionBy("slice").parquet(s"$stage/clicks")
    docs.result().toDF("slice", "doc_id", "text")
      .write.partitionBy("slice").parquet(s"$stage/docs")
    (1 to Customers).map(i => (i.toLong, Words.word(i), s"seg${i % 5}"))
      .toDF("c_custkey", "c_name", "c_segment")
      .coalesce(1).write.parquet(s"$dir/dim/customer.parquet")
    val fs = java.nio.file.FileSystems.getDefault
    for (t <- Seq("orders", "clicks", "docs"); s <- 0 until n) {
      val to = fs.getPath(s"$dir/in/slice_$s")
      java.nio.file.Files.createDirectories(to)
      java.nio.file.Files.move(fs.getPath(s"$stage/$t/slice=$s"), to.resolve(s"$t.parquet"))
    }
  }

  final case class OpOut(merges: Seq[(String, String)], loadMs: Seq[Double])

  /** One slice through the ETL. Independent branches run on their own
    * threads, as metalpipe runs each node on its own thread: the op ends
    * when the slowest branch has written its output.
    */
  private def op(c: Ctx, dir: String, s: Int, pool: java.util.concurrent.ExecutorService): OpOut = {
    val tr = c.tr
    val spark = c.spark
    val sd = s"$dir/in/slice_$s"
    val od = s"$dir/out/slice_$s"
    def branch[A](body: => A): java.util.concurrent.Future[A] = {
      val traced = tr.isOn
      pool.submit(() => tr.tracing(traced)(body))
    }
    def load(t: String) = Common.timeS(tr.span("sources", "Tables.load") { Tables.load(spark, sd, t) })
    val (orders, ordersS) = load("orders")
    val (docs, docsS) = load("docs")
    val pipeline = branch {
      val p = tr.span("pipeline", "ConfigPipeline.fromJson") {
        ConfigPipeline.fromJson(spark, config(sd, s"$dir/dim"))
      }
      tr.span("pipeline", "RunPipeline.writeBatch") {
        RunPipeline.writeBatch(p.output("activity"), s"$od/activity.parquet", None)
      }
    }
    val tree = branch {
      val parsed = tr.span("operators", "Ops.parseJson") {
        Ops.parseJson(orders, "o_payload", PayloadDdl, out = "doc")
      }
      tr.span("json", "TreeWalk.relations") {
        TreeWalk.relations(parsed, TreeWalk.Capture("cid", "cust"), "cid",
          TreeWalk.Capture("pid", "part"), "pid", "BOUGHT")
          .write.parquet(s"$od/relations.parquet")
      }
      tr.span("dedup", "Dedup.exact") {
        Dedup.exact(docs, "doc_id", "text").write.parquet(s"$od/dedup.parquet")
      }
    }
    val closure = branch {
      tr.span("json", "MtlParser.inferTransitive") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        val edges = orders.withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .select(col("o_orderkey").cast("string").as("src_id"),
            col("nxt").cast("string").as("dst_id"), lit("next").as("rel"))
        MtlParser.inferTransitive(edges, "next", "before")
          .write.parquet(s"$od/closure.parquet")
      }
    }
    val text = branch {
      val merges = tr.span("functions", "Bpe.train") {
        Bpe.train(docs, "text", nMerges = BpeRounds * MergesPerRound,
            mergesPerRound = MergesPerRound, maxRounds = BpeRounds)._1
          .select("l", "r").collect().map(r => (r.getString(0), r.getString(1))).toSeq
      }
      tr.span("functions", "Bpe.segment") {
        Bpe.segment(docs, "doc_id", "text", merges).write.parquet(s"$od/segments.parquet")
      }
      merges
    }
    Seq(pipeline, tree, closure).foreach(_.get())
    OpOut(text.get(), Seq(ordersS * 1e3, docsS * 1e3))
  }

  def run(c: Ctx): Result = {
    val spark = c.spark
    val dir = s"${c.work}/etl"
    val nOps = math.max(MinOps, math.round(OpsPerSecond * c.seconds).toInt)
    val (_, genS) = Common.timeS(generate(c, dir, nOps))
    // branch threads are created here, outside any span, so they inherit
    // no span property
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Branches)
    val opS = Array.fill(nOps)(0.0)
    val outs = new Array[OpOut](nOps)
    var peakMb = 0.0
    val t0 = System.nanoTime()
    // a traced run alternates traced ops with ops that run with no span and
    // no listener attached: trace.overhead_share compares the two
    for (s <- 0 until nOps) {
      val traced = s % 2 == 0 || !c.tr.enabled
      c.tr.listening(traced)(c.tr.tracing(traced) {
        val (o, t) = Common.timeS {
          val o = op(c, dir, s, pool)
          if (c.tr.enabled) peakMb = math.max(peakMb, Common.persistedMb(spark))
          c.tr.span("caching", "Caching.drain") { Caching.drain() }
          o
        }
        outs(s) = o; opS(s) = t
      })
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    pool.shutdown()
    Caching.drain()
    val leftAfterDrain = spark.sparkContext.getPersistentRDDs.size
    c.tr.flush()

    val v0 = System.nanoTime()
    val (bad, admitted) = verify(c, dir, (0 until nOps).toSet,
      outs.zipWithIndex.map { case (o, s) => s -> o.merges }.toMap)
    println(f"diag verify_s=${(System.nanoTime() - v0) / 1e9}%.3f")
    val okOps = (0 until nOps).count(s => !bad(s))
    val traced = opS.indices.filter(_ % 2 == 0).map(opS(_))
    val untraced = opS.indices.filter(_ % 2 == 1).map(opS(_))
    Result(
      setupS = genS,
      op = opS.toSeq, probe = outs.toSeq.flatMap(_.loadMs),
      records = nOps * recordsPerSlice, windowS = windowS,
      attempted = nOps, ok = okOps,
      correct = okOps == nOps,
      overhead = (traced, untraced),
      layers = Map(
        "dedup.admitted_share" -> admitted,
        "caching.peak_persisted_mb" -> peakMb,
        "caching.left_after_drain" -> leftAfterDrain.toDouble))
  }

  /** Check every measured slice's outputs against plain Spark SQL over the
    * same inputs. Returns the failing slices and the share of documents Dedup.exact kept.
    */
  private def verify(c: Ctx, dir: String, slices: Set[Int],
                     merges: Map[Int, Seq[(String, String)]]): (Set[Int], Double) = {
    val spark = c.spark
    def withSlice(df: DataFrame): DataFrame =
      df.withColumn("slice", regexp_extract(input_file_name(), "slice_(\\d+)", 1).cast("int"))
        .filter(col("slice").isin(slices.toSeq: _*))
    def in(t: String) = withSlice(spark.read.parquet(s"$dir/in/slice_*/$t.parquet"))
    def out(t: String) = withSlice(spark.read.parquet(s"$dir/out/slice_*/$t.parquet"))
    in("orders").createOrReplaceTempView("v_orders")
    in("clicks").createOrReplaceTempView("v_clicks")
    in("docs").createOrReplaceTempView("v_docs")
    spark.read.parquet(s"$dir/dim/customer.parquet").createOrReplaceTempView("v_cust")
    spark.sql(s"""SELECT slice, o_custkey, o_orderkey, o_orderdate, o_totalprice,
      from_json(o_payload, '$PayloadDdl') AS p FROM v_orders""").createOrReplaceTempView("v_op")
    val sessionsRef = spark.sql(s"""
      SELECT slice, user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
             count(1) AS n_events
      FROM (SELECT slice, user_id, ts,
              sum(brk) OVER (PARTITION BY slice, user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM (SELECT slice, user_id, ts,
                    CASE WHEN lag(ts) OVER (PARTITION BY slice, user_id ORDER BY ts) IS NULL
                           OR ts - lag(ts) OVER (PARTITION BY slice, user_id ORDER BY ts) > $SessionGap
                         THEN 1 ELSE 0 END AS brk
                  FROM v_clicks))
      GROUP BY slice, user_id, session_id""")
    val activityRef = sessionsRef.join(spark.sql("""
        SELECT slice, o_custkey, c_segment, count(1) AS n_orders, sum(o_totalprice) AS revenue,
               sum(aggregate(p.order.items, 0, (acc, x) -> acc + x.qty)) AS units
        FROM v_op JOIN v_cust ON o_custkey = c_custkey
        WHERE o_totalprice >= 20 GROUP BY slice, o_custkey, c_segment""").withColumnRenamed("slice", "s2"),
        col("slice") === col("s2") && col("user_id") === col("o_custkey"), "left")
      .select("user_id", "session_id", "session_start", "session_end", "n_events",
        "o_custkey", "c_segment", "n_orders", "revenue", "units", "slice")
    val checks: Seq[(DataFrame, DataFrame)] = Seq(
      out("activity") -> activityRef,
      out("relations") -> spark.sql("""
        SELECT DISTINCT p.order.cust.cid AS src_id, it.part.pid AS dst_id,
               'BOUGHT' AS rel, slice
        FROM v_op LATERAL VIEW explode(p.order.items) t AS it"""),
      out("closure") -> spark.sql("""
        SELECT CAST(a.o_orderkey AS STRING) AS src_id, CAST(b.o_orderkey AS STRING) AS dst_id,
               'before' AS rel, a.slice
        FROM v_orders a JOIN v_orders b
          ON a.slice = b.slice AND a.o_custkey = b.o_custkey
         AND (a.o_orderdate < b.o_orderdate OR
              (a.o_orderdate = b.o_orderdate AND a.o_orderkey < b.o_orderkey))"""),
      out("dedup") -> spark.sql("""
        SELECT md5(text) AS hash, min(doc_id) AS keep_id, count(1) AS n_copies, slice
        FROM v_docs GROUP BY slice, md5(text)""")
    )
    // per slice, a row count and an order-free sum of row hashes on each
    // side; one aggregate query per check
    def signatures(df: DataFrame, cols: Seq[String]): DataFrame =
      df.groupBy("slice", "side").agg(count(lit(1)).as("n"),
        sum(pmod(xxhash64(cols.map(col): _*), lit(2147483647L))).as("h"))
    val bad = scala.collection.mutable.Set.empty[Int]
    for ((got, ref) <- checks) {
      val cols = ref.columns.toSeq.filter(_ != "slice")
      val g = got.select((cols :+ "slice").map(col): _*)
      val r = ref.select((cols :+ "slice").zip(g.schema.fields).map { case (n, f) =>
        col(n).cast(f.dataType).as(n) }: _*)
      val sig = signatures(g.withColumn("side", lit(0)).unionByName(r.withColumn("side", lit(1))), cols)
        .collect().map(x => (x.getInt(0), x.getInt(1)) -> (x.getLong(2), x.getLong(3))).toMap
      bad ++= slices.filter(sl => sig.get((sl, 0)) != sig.get((sl, 1)))
    }
    // segmentation replays the trained merges: each token's symbols must
    // spell the token, and every corpus token must be segmented once
    val seg = out("segments")
    val segStats = seg.groupBy("slice").agg(count(lit(1)).as("n"),
        sum(when(array_join(col("syms"), "") =!= col("token") ||
          col("n_syms") =!= size(col("syms")), 1).otherwise(0)).as("wrong"))
      .collect().map(x => x.getInt(0) -> (x.getLong(1), x.getLong(2))).toMap
    val tokens = spark.sql("""SELECT slice, count(1) FROM v_docs
      LATERAL VIEW explode(array_remove(split(text, ' '), '')) t AS tok GROUP BY slice""")
      .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
    bad ++= slices.filter(sl => !segStats.get(sl).contains((tokens.getOrElse(sl, -1L), 0L)))
    // training and segmentation replayed in plain Scala from the slice's
    // word counts: the merges must match in order, every distinct token's
    // symbols must match the replay
    val counts = spark.sql("""SELECT slice, tok, count(1) FROM v_docs
      LATERAL VIEW explode(array_remove(split(text, ' '), '')) t AS tok GROUP BY slice, tok""")
      .collect().groupBy(_.getInt(0))
      .map { case (sl, rs) => sl -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap }
    val refMerges = counts.map { case (sl, wc) => sl -> BpeRef.train(wc, BpeRounds, MergesPerRound) }
    bad ++= slices.filter(sl => !refMerges.get(sl).contains(merges(sl)))
    val segRows = seg.select("slice", "token", "syms").distinct().collect()
    bad ++= segRows.collect { case r if refMerges.contains(r.getInt(0)) &&
        r.getSeq[String](2) != BpeRef.segment(r.getString(1), refMerges(r.getInt(0))) =>
      r.getInt(0) }
    val admitted = spark.sql("SELECT count(DISTINCT slice, md5(text)) / count(1) FROM v_docs")
      .head().getDouble(0)
    (bad.toSet, admitted)
  }
}

/** Plain-Scala BPE: the batched training `Bpe.train` documents (per round,
  * weighted adjacent-pair counts, then up to R symbol-disjoint pairs taken
  * greedily down the (count desc, left, right) order) and the merge replay
  * `Bpe.segment` documents, over the padded representation (" l  o  w ").
  */
object BpeRef {
  private def symbolize(word: String): String = word.map(ch => s" $ch ").mkString
  private def symbols(padded: String): Seq[String] = padded.trim.split("  ").toSeq
  private def replay(padded: String, merges: Seq[(String, String)]): String =
    merges.foldLeft(padded) { case (s, (l, r)) => s.replace(s" $l  $r ", s" $l$r ") }

  def train(wordCounts: Map[String, Long], rounds: Int, perRound: Int): Seq[(String, String)] = {
    var vocab = wordCounts.toSeq.map { case (w, n) => (symbolize(w), n) }
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < rounds && !exhausted) {
      round += 1
      val pairs = vocab.flatMap { case (s, n) =>
        val x = symbols(s); x.zip(x.drop(1)).map(_ -> n) }
        .groupMapReduce(_._1)(_._2)(_ + _).toSeq
        .sortBy { case ((l, r), n) => (-n, l, r) }
      val used = scala.collection.mutable.Set.empty[String]
      val sel = Seq.newBuilder[(String, String)]
      var taken = 0
      for (((l, r), _) <- pairs)
        if (taken < perRound && !used(l) && !used(r)) { sel += ((l, r)); used += l; used += r; taken += 1 }
      val selected = sel.result()
      if (selected.isEmpty) exhausted = true
      merges ++= selected
      vocab = vocab.map { case (s, n) => (replay(s, selected), n) }
    }
    merges.result()
  }

  def segment(token: String, merges: Seq[(String, String)]): Seq[String] =
    symbols(replay(symbolize(token), merges))
}
