package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.{ColumnBridge, InterleaveBits}

import graft.operators.{Ops, Sinks}

/** Z-order layout + deterministic corpus shuffle (beyond-reference D5/G
  * extensions; oracled as q_zorder / q_corpus_shuffle).
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def interleave(bits: Int, vs: Long*): Long = {
    var out = 0L
    for (i <- 0 until bits; j <- vs.indices)
      out |= ((vs(j) >>> i) & 1L) << (i * vs.size + j)
    out
  }

  test("InterleaveBits matches the reference interleave through codegen") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 255L), (170L, 85L),
      (200L, 13L), (255L, 0L))
    val got = rows.toDF("x", "y")
      .withColumn("z", ColumnBridge.column(InterleaveBits(
        ColumnBridge.expression(array(col("x"), col("y"))), 8)))
      .select("x", "y", "z").as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == interleave(8, x, y)) }
    // dim 0 owns the even (least-significant) bit positions
    assert(interleave(8, 1L, 0L) == 1L && interleave(8, 0L, 1L) == 2L)
    // three dims, and only the low `bits` bits are read
    val z3 = Seq((5L, 6L, 7L)).toDF("a", "b", "c")
      .withColumn("z", ColumnBridge.column(InterleaveBits(
        ColumnBridge.expression(array(col("a") + 256L, col("b"), col("c"))), 8)))
      .select("z").as[Long].head()
    assert(z3 == interleave(8, 5L, 6L, 7L))
  }

  test("InterleaveBits: null element nulls out; >63 result bits throws") {
    val withNull = Seq((1L, Some(2L)), (3L, None)).toDF("x", "y")
      .withColumn("z", ColumnBridge.column(InterleaveBits(
        ColumnBridge.expression(array(col("x"), col("y"))), 8)))
    assert(withNull.select("z").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet ==
      Set(Some(interleave(8, 1L, 2L)), None))
    val e = intercept[Exception] {
      Seq((1L, 2L)).toDF("x", "y")
        .select(ColumnBridge.column(InterleaveBits(
          ColumnBridge.expression(array(col("x"), col("y"))), 32)))
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("zorderValue is a zero-shuffle projection with bins in [0, 2^bits)") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("cents", expr("cast(floor(o_totalprice * 100) as bigint)"))
    val z = Sinks.zorderValue(orders, Seq("o_custkey", "cents"), bits = 8)
    // the min/max pass is a separate job; the keyed frame itself must add
    // no exchange over the scan (pure codegen projection)
    assert(!z.queryExecution.executedPlan.toString.contains("Exchange"))
    // every key stays under 2^16 (8 bits per dim, 2 dims), none negative
    val (lo, hi) = z.agg(min("zval"), max("zval")).as[(Long, Long)].head()
    assert(lo >= 0L && hi < (1L << 16))
  }

  test("zorderWrite preserves content and skips files linear sort cannot") {
    withTempDir("graft_zw") { base =>
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .withColumn("cents", expr("cast(floor(o_totalprice * 100) as bigint)"))
        .select("o_orderkey", "o_custkey", "cents")
      Sinks.zorderWrite(orders, s"$base/z", Seq("o_custkey", "cents"),
        bits = 8, numFiles = 16)
      orders.repartitionByRange(16, col("o_custkey"))
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite").parquet(s"$base/lin")
      val back = spark.read.parquet(s"$base/z")
      assert(back.columns.toSeq == orders.columns.toSeq) // zval dropped
      assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty)
      def stats(dir: String) = spark.read.parquet(dir)
        .groupBy(input_file_name()).agg(min("cents").as("lp"), max("cents").as("hp"))
      // a band predicate on the SECOND dimension: a custkey-sorted layout
      // spreads cents uniformly through every file (all files candidate);
      // z-order files cover small rectangles, so most files' [min,max] miss
      val (plo, phi) = orders.agg(min("cents"), max("cents")).as[(Long, Long)].head()
      val w = (phi - plo + 1) / 8
      val (b1, b2) = (plo + 3 * w, plo + 4 * w - 1)
      def candidates(dir: String): Long =
        stats(dir).filter(col("hp") >= b1 && col("lp") <= b2).count()
      val (zc, lc) = (candidates(s"$base/z"), candidates(s"$base/lin"))
      assert(zc * 2 <= lc, s"z-order candidates $zc not < half of linear $lc")
    }
  }

  test("corpusShuffle is invariant to input partitioning and covers shards") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def run(parts: Int) =
      Ops.corpusShuffle(docs.repartition(parts), "doc_id", seed = 7L,
          numShards = 8)
        .select("doc_id", "shard", "pos").as[(Long, Long, Int)].collect().toSet
    val a = run(3)
    assert(a == run(11)) // parallelism-free assignment AND order
    assert(a.map(_._2) == (0L until 8L).toSet)
    // per-shard positions are contiguous 1..n
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).toSeq.sorted == (1 to rows.size)) }
    // a different seed is a different permutation
    val b = Ops.corpusShuffle(docs, "doc_id", seed = 8L, numShards = 8)
      .select("doc_id", "shard", "pos").as[(Long, Long, Int)].collect().toSet
    assert(a != b && a.map(_._1) == b.map(_._1))
  }

  test("shuffledWrite emits byte-identical shards at any parallelism") {
    withTempDir("graft_sw") { base =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      Sinks.shuffledWrite(docs.repartition(2), s"$base/a", "doc_id",
        seed = 7L, numShards = 4)
      Sinks.shuffledWrite(docs.repartition(9), s"$base/b", "doc_id",
        seed = 7L, numShards = 4)
      for (s <- 0 until 4) {
        val a = spark.read.parquet(s"$base/a/shard=$s").select("doc_id")
          .as[Long].collect().toSeq
        val b = spark.read.parquet(s"$base/b/shard=$s").select("doc_id")
          .as[Long].collect().toSeq
        assert(a.nonEmpty && a == b, s"shard $s differs across parallelism")
      }
      // and the query form pins the written MEMBERSHIP (not just sizes — a
      // drifted assignment preserving shard counts must fail here)
      val want = Ops.corpusShuffle(docs, "doc_id", 7L, 4)
        .select("shard", "doc_id").as[(Long, Long)].collect().toSet
      val wrote = spark.read.parquet(s"$base/a")
        .select(col("shard").cast("long"), col("doc_id"))
        .as[(Long, Long)].collect().toSet
      assert(wrote == want)
    }
  }

  test("zorderValue handles empty input and refuses overflow-wide columns") {
    withTempDir("graft_ze") { base =>
      val empty = spark.range(0).selectExpr("id AS a", "id AS b")
      Sinks.zorderWrite(empty, s"$base/e", Seq("a", "b"), bits = 8, numFiles = 4)
      assert(spark.read.parquet(s"$base/e").count() == 0L) // no NPE, empty out
      // a raw xxhash64-style full-range column must fail loudly, not wrap
      val wide = Seq(Long.MinValue, 0L, Long.MaxValue).toDF("a")
        .withColumn("b", lit(1L))
      val e = intercept[IllegalArgumentException] {
        Sinks.zorderValue(wide, Seq("a", "b"), bits = 8)
      }
      assert(e.getMessage.contains("too wide") && e.getMessage.contains("div"))
    }
  }

  test("RunPipeline layout directives route to the Sinks writers") {
    withTempDir("graft_ld") { base =>
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .withColumn("cents", expr("cast(floor(o_totalprice * 100) as bigint)"))
        .select("o_orderkey", "o_custkey", "cents")
      RunPipeline.writeBatch(orders, s"$base/plain", None)
      assert(spark.read.parquet(s"$base/plain").count() == orders.count())
      RunPipeline.writeBatch(orders, s"$base/z",
        Some("zorder=o_custkey,cents,8,4"))
      val z = spark.read.parquet(s"$base/z")
      assert(z.count() == orders.count() && z.columns.toSeq == orders.columns.toSeq)
      RunPipeline.writeBatch(orders, s"$base/sh",
        Some("shuffled=o_orderkey,7,4"))
      assert((0 until 4).forall(s =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/sh/shard=$s"))))
      RunPipeline.writeBatch(
        orders.withColumn("bucket", pmod(col("o_custkey"), lit(3))),
        s"$base/pt", Some("partitioned=bucket"))
      assert(spark.read.parquet(s"$base/pt").columns.contains("bucket"))
      // bucketed=table,cols,n[,sortCols] (r13): a catalog bucketed table
      RunPipeline.writeBatch(orders, s"$base/bkt",
        Some("bucketed=ld_bkt_orders,o_orderkey,4,o_orderkey"))
      assert(spark.table("ld_bkt_orders").count() == orders.count())
      assert(spark.sql("DESCRIBE TABLE EXTENDED ld_bkt_orders").collect()
        .exists(r => r.getString(0) == "Num Buckets" && r.getString(1) == "4"))
      val e0 = intercept[Exception] {
        RunPipeline.writeBatch(orders, s"$base/badb", Some("bucketed=t,o_orderkey"))
      }
      assert(e0.getMessage.contains("bucketed layout needs"))
      intercept[Exception] {
        RunPipeline.writeBatch(orders, s"$base/bad", Some("sorted=o_custkey"))
      }
      // malformed zorder specs fail with the directive grammar, not a bare
      // NumberFormatException from a stray empty/misplaced token
      val e1 = intercept[IllegalArgumentException] {
        RunPipeline.writeBatch(orders, s"$base/bad2", Some("zorder=o_custkey,cents,"))
      }
      assert(e1.getMessage.contains("empty segment"))
      val e2 = intercept[IllegalArgumentException] {
        RunPipeline.writeBatch(orders, s"$base/bad3", Some("zorder=8,o_custkey"))
      }
      assert(e2.getMessage.contains("knobs LAST"))
    }
  }

  test("writeBucketed: matching-bucket equi-join plans with ZERO exchanges " +
       "under the join, and the layout is transparent to results (r13)") {
    withTempDir("bkt_spec") { base =>
      val left = spark.range(0, 1000)
        .select(col("id").as("k"), (col("id") % 7).as("lv"))
      val right = spark.range(0, 1000).filter(col("id") % 2 === 0)
        .select(col("id").as("k"), (col("id") % 11).as("rv"))
      Sinks.writeBucketed(left, "bkt_spec_l", s"$base/l", Seq("k"), buckets = 4,
        sortCols = Seq("k"))
      Sinks.writeBucketed(right, "bkt_spec_r", s"$base/r", Seq("k"), buckets = 4)
      // hint the merge join the planner would pick at fact×fact scale —
      // toy fixtures broadcast otherwise and never exercise the layout
      val joined = spark.table("bkt_spec_l")
        .join(spark.table("bkt_spec_r").hint("merge"), "k")
      // values: exactly the plain join's
      val want = left.join(right, "k").orderBy("k")
        .as[(Long, Long, Long)].collect().toSeq
      assert(joined.orderBy("k").as[(Long, Long, Long)].collect().toSeq == want
        && want.size == 500)
      // plan: a sort-merge (or shuffle-hash) join whose subtree holds NO
      // Exchange — the bucketed scans already satisfy the partitioning
      // requirement. explain the JOIN frame itself (no agg tail) so any
      // exchange in the text would belong to the join
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a non-broadcast equi-join over bucketed scans:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"scan did not report the bucketed layout:\n$plan")
    }
  }

  test("swapWrite: first write, read-then-rewrite over the live dir, " +
       "partition layout preserved, stranded swaps recovered") {
    import org.apache.hadoop.fs.Path
    withTempDir("swapw") { base =>
      val dir = s"$base/idx"
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def live() = graft.streaming.Streams.readIndex(spark, dir)
      def rows = live()
        .select(col("id"), col("v"), col("cell").cast("long").as("cell"))
        .as[(Long, String, Long)].collect().toSet
      val df1 = (0L until 20L).map(i => (i, s"v$i", i % 4)).toDF("id", "v", "cell")
      // first write: no dir yet — swapWrite must create it, as gen-0
      Sinks.swapWrite(df1, dir, Seq("cell"))
      assert(rows == df1.as[(Long, String, Long)].collect().toSet)
      assert(fs.exists(new Path(s"$dir/gen-0/cell=0")), "partition layout lost")
      // the maintenance loop: a frame READING from dir writes back over it
      // (the in-place overwrite this exists to replace would delete the
      // input under the running job)
      val maintained = live()
        .filter(col("id") =!= 3L)
        .select(col("id"), concat(col("v"), lit("'")) .as("v"), col("cell"))
      Sinks.swapWrite(maintained, dir, Seq("cell"))
      assert(rows.map(_._1) == (0L until 20L).toSet - 3L)
      assert(rows.forall(_._2.endsWith("'")), "rewrite lost the projection")
      // stranded swap (crash after a generation's write job, before its
      // pointer update): never read, and discarded by the next swapWrite
      val df3 = Seq((100L, "fresh", 0L)).toDF("id", "v", "cell")
      Seq((300L, "stranded", 2L)).toDF("id", "v", "cell")
        .write.partitionBy("cell").parquet(s"$dir/gen-5")
      fs.create(new Path(s"$dir/gen-5/${Sinks.GenReadyMarker}"), true).close()
      assert(rows.map(_._1) == (0L until 20L).toSet - 3L,
        "an unpointed generation went live")
      // a mid-write carcass (no ready marker) is discarded too
      Seq((200L, "carcass", 1L)).toDF("id", "v", "cell")
        .write.partitionBy("cell").parquet(s"$dir/gen-9")
      Sinks.swapWrite(df3, dir, Seq("cell"))
      assert(rows == Set((100L, "fresh", 0L)),
        "a stranded generation leaked into the index")
      assert(!fs.exists(new Path(s"$dir/gen-5")), "stranded generation not discarded")
      assert(!fs.exists(new Path(s"$dir/gen-9")), "carcass not cleaned")
      // no pointer temp file survives a clean swap
      assert(!fs.exists(new Path(s"$dir/${Sinks.PointerFile}.tmp")),
        "pointer tmp file leaked into the live directory")
    }
  }

  test("bloom-filtered layout: a point probe on a scattered column skips " +
       "row groups that min/max stats cannot") {
    val n = 200000L
    val df = spark.range(n).select(
      (col("id") * 2654435761L % n).as("k"),
      concat(lit("pad"), col("id").cast("string")).as("pay"))
    withTempDir("graft_bloomspec") { base =>
      Sinks.writeClustered(df.repartition(8), s"$base/plain", Nil, Nil)
      Sinks.writeClustered(df.repartition(8), s"$base/bloom", Nil, Nil,
        bloomFilterCols = Seq("k"), bloomNdv = n / 8)
      def recordsRead(path: String): Long = {
        val r = Jobs.recorded(spark)(
          spark.read.parquet(path).filter(col("k") === 12345L).count())
        assert(r.value == 1L)
        r.jobs.map(_.inputRecords).sum
      }
      val plain = recordsRead(s"$base/plain")
      val bloom = recordsRead(s"$base/bloom")
      // the scattered key defeats min/max pruning (plain reads everything);
      // the bloom drops all but the holding row group(s)
      assert(plain >= n, s"expected a full scan without blooms, read $plain")
      assert(bloom <= plain / 4, s"bloom read $bloom of $plain — no row-group skip")
    }
  }

  test("readIndex infers a swapWrite generation's hive partition column") {
    withTempDir("swapri") { base =>
      val dir = s"$base/codes"
      val df = (0L until 12L).map(i => (i, i % 3)).toDF("id", "cell")
      Sinks.swapWrite(df, dir, Seq("cell"))
      // the batch stored-index probes (Pq/Sq/MaxSim/Search) read through
      // this shape: partition inference ON (recursiveFileLookup would drop
      // the cell column their pruning filters need)
      val live = graft.streaming.Streams.readIndex(spark, dir)
      assert(live.columns.contains("cell"), "partition column lost")
      assert(live.filter(col("cell") === 1).count() == 4)
    }
  }

  test("one generation per stored index: after a build and a maintain, " +
       "each family's dir is one _CURRENT over gen-N/ dirs, the maintained " +
       "generation carries the build's model bytes, and it probes like a " +
       "fresh build over the maintained membership") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import graft.similarity.{MaxSim, Pq, Search, Sq}
    def md5(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // the maintain re-keys two documents: their content comes back under
    // new ids. Every family's model then trains the same over the
    // maintained membership (Pq's codebook seeds are the two md5-first
    // ids, which the re-keyed ids neither are nor precede), so a fresh
    // build over it is the reference the maintained index must probe like
    val built = (0L until 16L).map(i => i -> i) // (id, content)
    val seeds = built.map(_._1).sortBy(i => (md5(i), i)).take(2)
    val retired = built.map(_._1).filterNot(seeds.contains).take(2)
    val added = (100L until 200L).filter(n => md5(n) > md5(seeds.last))
      .take(2).zip(retired)
    val maintained = built.filterNot(p => retired.contains(p._1)) ++ added
    val queries = built.filter(p => seeds.contains(p._1))
    val gone = retired.toDF("id")
    def vecs(m: Seq[(Long, Long)]) = m.map { case (id, c) =>
      val sign = if (c % 2 == 0) 1.0f else -1.0f
      (id, Array.tabulate(8)(j => sign * (1.0f + j * 0.1f) + c * 1e-3f))
    }.toDF("vec_id", "embedding")
    def toks(m: Seq[(Long, Long)]) = m.flatMap { case (id, c) =>
      (0L until 3L).map(p =>
        (id, p, Array.tabulate(8)(j => ((c * 7 + p * 3 + j) % 5 - 2).toFloat)))
    }.toDF("id", "pos", "embedding")
    def docs(m: Seq[(Long, Long)]) = m.map { case (id, c) =>
      (id, s"w${c % 3} w${c % 5} common t$c")
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toString).sorted
    // (family, model artifacts, build, maintain, probe)
    val families = Seq[(String, Seq[String], (Seq[(Long, Long)], String) => Unit,
                        String => Unit, String => Seq[String])](
      ("lex", Nil,
        (m, d) => Search.writeLexIndex(docs(m), "doc_id", "text", d, buckets = 4),
        d => {
          val (p, dl, st, t) = Search.lexIndexDelta(docs(added), "doc_id",
            "text", d, gone)
          Search.writeLexDelta(d, p, dl, st, t)
        },
        d => rows(Search.bm25FromIndex(spark, d, Seq("w1", "w2", "t3"), k = 5))),
      ("pq", Seq("coarse", "codebooks"),
        (m, d) => Pq.writeIndex(vecs(m), "vec_id", "embedding", dim = 8,
          m = 2, k = 2, dir = d, nlist = 4),
        d => Sinks.swapWrite(Pq.indexCodesDelta(vecs(added), "vec_id",
          "embedding", d, gone), s"$d/codes", Seq("cell")),
        d => rows(Pq.probeIndex(vecs(queries), "vec_id", "embedding", d,
          topK = 5, nprobe = 4))),
      ("sq", Seq("scales", "coarse"),
        (m, d) => Sq.writeIndex(vecs(m), "vec_id", "embedding", dim = 8,
          dir = d, nlist = 4),
        d => Sinks.swapWrite(Sq.indexCodesDelta(vecs(added), "vec_id",
          "embedding", d, gone), s"$d/codes", Seq("cell")),
        d => rows(Sq.probeIndex(vecs(queries), "vec_id", "embedding", d,
          topK = 5, nprobe = 4))),
      ("maxsim", Seq("meta", "coarse"),
        (m, d) => MaxSim.writeIndex(toks(m), "id", "pos", "embedding", d,
          nlist = 4),
        d => Sinks.swapWrite(MaxSim.indexMatsDelta(toks(added), "id", "pos",
          "embedding", d, gone), s"$d/mats", Seq("cell")),
        d => rows(MaxSim.probeIndex(toks(queries), "id", "pos", "embedding",
          d, k = 3, nprobe = 4, mShort = 8))))
    withTempDir("layout_gens") { base =>
      val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def live(d: String) = Sinks.resolveLive(spark, d).paths.head
      // every data file under the model artifacts of generation `gen`
      def modelBytes(gen: String, model: Seq[String]) = model.flatMap { a =>
        val root = java.nio.file.Paths.get(new Path(s"$gen/$a").toUri.getPath)
        java.nio.file.Files.walk(root).iterator().asScala
          .filter(f => java.nio.file.Files.isRegularFile(f) &&
            !f.getFileName.toString.startsWith("."))
          .map(f => s"$a/${root.relativize(f)}" ->
            java.nio.file.Files.readAllBytes(f).toSeq)
      }.toMap
      families.foreach { case (name, model, build, maintain, probe) =>
        val dir = s"$base/$name"
        build(built, dir)
        val first = live(dir)
        val bytes = modelBytes(first, model)
        assert(bytes.size >= model.size, s"$name: no model files under $first")
        maintain(dir)
        val next = live(dir)
        assert(first.endsWith("/gen-0") && next.endsWith("/gen-1"),
          s"$name: the maintain did not write exactly one new generation: $next")
        val top = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
        assert(top.filterNot(_.matches("gen-\\d+")) == Set(Sinks.PointerFile),
          s"$name: an artifact sits beside the generations: $top")
        val all = fs.listFiles(new Path(dir), true)
        var pointers = 0
        while (all.hasNext) if (all.next().getPath.getName == Sinks.PointerFile) pointers += 1
        assert(pointers == 1, s"$name: $pointers pointer files")
        assert(modelBytes(next, model) == bytes,
          s"$name: the maintained generation's model differs from the build's")
        build(maintained, s"$base/${name}_fresh")
        val got = probe(dir)
        assert(got.nonEmpty && got == probe(s"$base/${name}_fresh"),
          s"$name: the maintained index probes unlike a fresh build")
      }
      // a pointer dir with nothing live has no model to carry: refused
      assert(fs.mkdirs(new Path(s"$base/bare/gen-0")))
      val ex = intercept[IllegalStateException](Sinks.swapWrite(
        Seq((1L, "c0")).toDF("id", "cell"), s"$base/bare/codes", Seq("cell")))
      assert(ex.getMessage.contains("no live generation"), ex.getMessage)
      graft.Caching.drain()
    }
  }
}
