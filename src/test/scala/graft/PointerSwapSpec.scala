package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.Sinks
import graft.similarity.Search

/** The generation-POINTER swap protocol of [[Sinks.swapWrite]]:
  * immutable `gen-N/` directories plus a tiny `_CURRENT` pointer file. No
  * directory ever moves — commit is one small-object pointer update — so
  * the protocol holds on S3-class stores, where rename is copy+delete.
  *
  * Pinned here:
  *  - roundtrip: the same rows back, readers resolve through
  *    [[Sinks.resolveLive]] / readIndex;
  *  - a non-empty flat dir is refused, not converted;
  *  - the three crash windows (mid-write carcass / ready-but-unpointed /
  *    mid-pointer-update): readers never see the first two and the next
  *    swap discards them; the third reads through the fallback — and the
  *    full ONLINE maintain loop (the q_stream_lexmaintain identity)
  *    converges to the from-scratch rebuild through each of them;
  *  - a probe racing a lexical-index write-back scores one generation;
  *  - retention keeps the previous generation for in-flight readers.
  */
class PointerSwapSpec extends SparkSpec {
  import spark.implicits._

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rowsOf(dir: String): Set[(Long, String)] =
    graft.streaming.Streams.readIndex(spark, dir)
      .select(col("id"), col("v")).as[(Long, String)].collect().toSet

  test("pointer-protocol roundtrip: write, read via resolveLive, rewrite " +
       "from the live generation, retention keeps exactly two") {
    withTempDir("ptr_rt") { base =>
      val idx = s"$base/idx"
      Sinks.swapWrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), idx)
      val f = fs(idx)
      assert(f.exists(new Path(s"$idx/${Sinks.PointerFile}")))
      assert(rowsOf(idx) == Set((1L, "a"), (2L, "b")))
      // generation 2: read the LIVE data and write it back enriched —
      // the q_swap_roundtrip shape; the input frame's generation is not
      // touched by the new write
      val live = graft.streaming.Streams.readIndex(spark, idx)
      Sinks.swapWrite(live.union(Seq((3L, "c")).toDF("id", "v")), idx)
      assert(rowsOf(idx) == Set((1L, "a"), (2L, "b"), (3L, "c")))
      // a third: retention (keepGenerations default 2) retires gen-0
      Sinks.swapWrite(Seq((9L, "z")).toDF("id", "v"), idx)
      assert(rowsOf(idx) == Set((9L, "z")))
      val gens = f.listStatus(new Path(idx)).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("gen-")).sorted.toSeq
      assert(gens == Seq("gen-1", "gen-2"), s"retained: $gens")
    }
  }

  test("keepMinAgeMs time-floors retention: a young generation beyond " +
       "keepGenerations survives until it ages past the floor") {
    withTempDir("ptr_floor") { base =>
      val key = "spark.graft.swap.keepMinAgeMs"
      val prev = spark.conf.getOption(key)
      // 1h floor: every generation written in this test is "young", so
      // count-based retirement is suspended — the reader-SLA contract
      // (plans/LAYOUT.md): any scan started within the floor finds its
      // files even across a burst of back-to-back maintains
      spark.conf.set(key, "3600000")
      try {
        val idx = s"$base/idx"
        Sinks.swapWrite(Seq((1L, "a")).toDF("id", "v"), idx)
        Sinks.swapWrite(Seq((2L, "b")).toDF("id", "v"), idx)
        // gen-0 is now beyond keepGenerations=2 but younger than the
        // floor: it must survive
        Sinks.swapWrite(Seq((3L, "c")).toDF("id", "v"), idx)
        val f = fs(idx)
        def gens() = f.listStatus(new Path(idx)).filter(_.isDirectory)
          .map(_.getPath.getName).filter(_.startsWith("gen-")).sorted.toSeq
        assert(gens() == Seq("gen-0", "gen-1", "gen-2"),
          s"retained: ${gens()}")
        assert(rowsOf(idx) == Set((3L, "c")))
        // dropping the floor to 0 restores count-only retention on the
        // next maintain — the backlog drains, newest two remain
        spark.conf.set(key, "0")
        Sinks.swapWrite(Seq((4L, "d")).toDF("id", "v"), idx)
        assert(gens() == Seq("gen-2", "gen-3"), s"retained: ${gens()}")
        assert(rowsOf(idx) == Set((4L, "d")))
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("the retention floor clocks from SUPERSESSION, not readiness: a " +
       "long-current generation survives a burst of back-to-back " +
       "maintains, and retires once its successor ages past the floor") {
    withTempDir("ptr_sup") { base =>
      val key = "spark.graft.swap.keepMinAgeMs"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "3600000") // 1h floor
      try {
        val idx = s"$base/idx"
        val f = fs(idx)
        def backdate(gen: String): Unit = {
          val m = new Path(s"$idx/$gen/${Sinks.GenReadyMarker}")
          f.setTimes(m, System.currentTimeMillis() - 7200000L, -1) // -2h
        }
        def gens() = f.listStatus(new Path(idx)).filter(_.isDirectory)
          .map(_.getPath.getName).filter(_.startsWith("gen-")).sorted.toSeq
        // gen-0 becomes current and STAYS current for "2 hours" (its own
        // ready marker is backdated past the floor), then two maintains
        // land back to back — the ADVICE r15 scenario. A floor clocked
        // from gen-0's own readiness retires it at the second maintain,
        // milliseconds after it stopped being current; clocked from its
        // successor's readiness (≈ when the pointer moved off it) it must
        // survive the whole burst.
        Sinks.swapWrite(Seq((1L, "a")).toDF("id", "v"), idx)
        backdate("gen-0")
        Sinks.swapWrite(Seq((2L, "b")).toDF("id", "v"), idx)
        Sinks.swapWrite(Seq((3L, "c")).toDF("id", "v"), idx)
        assert(gens() == Seq("gen-0", "gen-1", "gen-2"),
          s"long-current generation lost in a maintain burst: ${gens()}")
        // once the SUCCESSOR (gen-1) is itself old — gen-0 stopped being
        // current more than the floor ago — count-based retirement resumes
        // for gen-0; gen-1 stays (its successor gen-2 is young)
        backdate("gen-1")
        Sinks.swapWrite(Seq((4L, "d")).toDF("id", "v"), idx)
        assert(gens() == Seq("gen-1", "gen-2", "gen-3"), s"retained: ${gens()}")
        assert(rowsOf(idx) == Set((4L, "d")))
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("swapWrite refuses a non-empty flat directory instead of " +
       "converting it, and writes an empty one as gen-0") {
    withTempDir("ptr_flat") { base =>
      val idx = s"$base/idx"
      Seq((1L, "a")).toDF("id", "v").write.parquet(idx)
      val ex = intercept[IllegalArgumentException] {
        Sinks.swapWrite(Seq((2L, "b")).toDF("id", "v"), idx)
      }
      assert(ex.getMessage.contains("not a generation-pointer"), ex.getMessage)
      assert(spark.read.parquet(idx).as[(Long, String)].collect().toSet ==
        Set((1L, "a")), "the flat data was touched")
      // and readers refuse it the same way
      intercept[IllegalArgumentException](rowsOf(idx))
      val empty = s"$base/empty"
      assert(fs(empty).mkdirs(new Path(empty)))
      Sinks.swapWrite(Seq((3L, "c")).toDF("id", "v"), empty)
      assert(fs(empty).exists(new Path(s"$empty/gen-0/${Sinks.GenReadyMarker}")))
      assert(rowsOf(empty) == Set((3L, "c")))
    }
  }

  test("crash windows: an unready carcass and a ready-but-unpointed " +
       "generation are never read and the next swap discards both; " +
       "mid-pointer-update falls back to the newest ready generation") {
    withTempDir("ptr_cw") { base =>
      val idx = s"$base/idx"
      Sinks.swapWrite(Seq((1L, "a")).toDF("id", "v"), idx)
      val f = fs(idx)
      // window 1: a mid-write carcass (partial gen, no _GEN_READY)
      Seq((7L, "junk")).toDF("id", "v").write.parquet(s"$idx/gen-5")
      // window 2: a completed generation whose pointer update never ran
      Seq((3L, "c")).toDF("id", "v").write.parquet(s"$idx/gen-9")
      f.create(new Path(s"$idx/gen-9/${Sinks.GenReadyMarker}"), true).close()
      assert(rowsOf(idx) == Set((1L, "a"))) // readers see neither
      Sinks.swapWrite(Seq((2L, "b")).toDF("id", "v"), idx)
      assert(!f.exists(new Path(s"$idx/gen-5")), "carcass not discarded")
      assert(!f.exists(new Path(s"$idx/gen-9")), "unpointed generation not discarded")
      // the new generation numbers past both, never reusing a name
      assert(f.exists(new Path(s"$idx/gen-10")))
      assert(rowsOf(idx) == Set((2L, "b")))
      // window 3: crash between pointer delete and tmp rename — readers
      // fall back to the newest READY generation (no token: nothing may
      // cache it), and the next swap takes it as live and re-points
      val pointer = new Path(s"$idx/${Sinks.PointerFile}")
      assert(f.delete(pointer, false))
      assert(rowsOf(idx) == Set((2L, "b")))
      assert(Sinks.resolveLive(spark, idx).token.isEmpty)
      Sinks.swapWrite(Seq((4L, "d")).toDF("id", "v"), idx)
      assert(f.exists(pointer) && f.exists(new Path(s"$idx/gen-10")),
        "the fallback-live generation must survive as the predecessor")
      assert(rowsOf(idx) == Set((4L, "d")))
    }
  }

  test("an in-flight reader frame survives a full generation swap: " +
       "retention keeps the previous generation's files on disk") {
    withTempDir("ptr_rd") { base =>
      val idx = s"$base/idx"
      Sinks.swapWrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), idx)
      // the reader resolved gen-0 and its file index listed gen-0's files
      val frame = graft.streaming.Streams.readIndex(spark, idx)
      assert(frame.count() == 2)
      // a new generation lands; retention (keepGenerations = 2) keeps
      // gen-0 intact under the running frame
      Sinks.swapWrite(Seq((9L, "z")).toDF("id", "v"), idx)
      assert(frame.select(col("id")).as[Long].collect().toSet == Set(1L, 2L),
        "the pre-swap frame must keep reading its own generation")
      // while NEW readers resolve the new generation
      assert(rowsOf(idx) == Set((9L, "z")))
    }
  }

  test("a probe racing writeLexDelta scores the live generation, never " +
       "the new stats against the old postings") {
    withTempDir("ptr_torn") { base =>
      val idx = s"$base/index"
      val stored = Seq((1L, "spark common"), (2L, "common words here"),
        (3L, "spark spark rare"))
      // the admitted docs grow n and sumdl without touching the probed
      // terms' postings: new stats over the old postings change every score
      val admitted = Seq((4L, "common fresh doc"), (5L, "another common"),
        (6L, "more words here too"))
      Search.writeLexIndex(stored.toDF("doc_id", "text"), "doc_id", "text",
        idx, buckets = 8)
      val terms = Seq("spark", "rare")
      def probe() = Search.bm25FromIndex(spark, idx, terms, k = 5,
          maxDfPermille = 1000).as[(Long, Double)].collect().toSeq
      def want(m: Seq[(Long, String)]) = Search.bm25TopK(
          m.toDF("doc_id", "text"), "doc_id", "text", terms, k = 5)
        .as[(Long, Double)].collect().toSeq
      val before = want(stored)
      val after = want(stored ++ admitted)
      assert(before != after, "the admitted docs must move the scores")
      assert(probe() == before)
      val (posts, doclens, stats, dfs) = Search.lexIndexDelta(
        admitted.toDF("doc_id", "text"), "doc_id", "text", idx,
        Seq.empty[Long].toDF("id"))
      // the postings write's one task blocks until the gate opens
      val gated = spark.createDataFrame(posts.coalesce(1).rdd.mapPartitions {
        it => TornReadGate.hold(); it }, posts.schema)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      val writer = Future(Search.writeLexDelta(idx, gated, doclens, stats, dfs))(
        scala.concurrent.ExecutionContext.global)
      try {
        assert(TornReadGate.entered.await(120, SECONDS),
          "the postings write never started")
        assert(probe() == before,
          "a probe during the write-back mixed two generations")
      } finally TornReadGate.open.countDown()
      Await.result(writer, 5.minutes)
      assert(probe() == after)
      graft.Caching.drain()
    }
  }

  test("a Pq rebuild that fails writing its codes leaves the previous " +
       "build probing: the new model never lands beside the old codes") {
    import graft.similarity.Pq
    def corpus(spread: Float) = (0 until 16).map { i =>
      val sign = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.tabulate(8)(j => sign * (1.0f + j * spread) + i * 1e-3f))
    }.toDF("vec_id", "embedding")
    def build(dir: String, spread: Float): Unit =
      Pq.writeIndex(corpus(spread), "vec_id", "embedding", dim = 8, m = 2,
        k = 2, dir = dir, nlist = 4)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.failcodes.impl", classOf[FailCodesCreateFs].getName)
    hc.setBoolean("fs.failcodes.impl.disable.cache", true)
    try withTempDir("ptr_pqtorn") { base =>
      val idx = s"$base/idx"
      def probe() = Pq.probeIndex(corpus(0.1f).filter(col("vec_id") < 2),
          "vec_id", "embedding", idx, topK = 5, nprobe = 4)
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
      build(idx, 0.1f)
      val before = probe()
      // the same directory through a filesystem that cannot create a file
      // under `codes`: the model tables land, the codes write fails
      intercept[Exception](build(s"failcodes://$idx", 0.5f))
      assert(probe() == before,
        "the failed rebuild's model is scored against the old codes")
      // the same rebuild on a working store does move the probe
      build(idx, 0.5f)
      assert(probe() != before)
    } finally {
      hc.unset("fs.failcodes.impl")
      hc.unset("fs.failcodes.impl.disable.cache")
    }
  }

  // ------------------------------------------------------------------
  // crash injection into the ONLINE maintain loop: kill a generation
  // inside writeLexDelta's one swap, in each crash window, and assert the
  // RESTARTED stream (same checkpoint — Structured Streaming replays the
  // uncommitted micro-batch) converges to a from-scratch rebuild over the
  // maintained membership. The levers: a lexical index is ONE pointer dir
  // (all four artifacts in each gen-N), an unflipped generation is never
  // read and the next swap discards it, and the delta apply is IDEMPOTENT
  // (Dedup.replaceIdFrame), so replaying the batch converges. The crash
  // states are installed directly between two AvailableNow drains —
  // deterministic, where killing a thread mid-swap is not.
  // ------------------------------------------------------------------

  private val corpus = Seq(
    (1L, "spark engine core"), (2L, "common words here"),
    (3L, "common rare spark"), (4L, "gamma delta"))
  private val fileA = Seq((10L, "fresh spark doc"))
  private val fileB = Seq((20L, "another fresh common doc"))
  private val retiredIds = Seq(3L)
  private def membership = corpus.filterNot(c => retiredIds.contains(c._1)) ++
    fileA ++ fileB

  private def drain(inDir: String, idxDir: String, ckpt: String): Unit = {
    val retired = retiredIds.toDF("id")
    val stream = graft.streaming.Streams.watchDirectory(spark, inDir,
      format = "parquet", schemaDdl = Some("doc_id BIGINT, text STRING"),
      maxFilesPerTrigger = 1)
    val q = graft.streaming.Streams.toForeachBatch(stream, ckpt,
      availableNow = true) { (batch, _) =>
      if (!batch.isEmpty) {
        val (posts, doclens, stats, terms) = Search.lexIndexDelta(
          batch, "doc_id", "text", idxDir, retired)
        Search.writeLexDelta(idxDir, posts, doclens, stats, terms)
        graft.Caching.drain()
      }
    }
    q.awaitTermination()
  }

  private def postsOf(dir: String): Set[(Long, Long, String, Long, Long)] =
    graft.streaming.Streams.readIndex(spark, s"$dir/postings")
      .select(col("id"), col("dl"), col("term"), col("tf"),
        col("bucket").cast("long"))
      .as[(Long, Long, String, Long, Long)].collect().toSet

  private def runWindow(tag: String)(
      crash: (String, (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)) => Unit): Unit =
    withTempDir(s"ptrcrash_$tag") { base =>
    val inDir = s"$base/in"; val idxDir = s"$base/index"; val ckpt = s"$base/ckpt"
    // the bootstrap build lands as the index's gen-0
    Search.writeLexIndex(corpus.toDF("doc_id", "text"), "doc_id", "text",
      idxDir, buckets = 8)
    fileA.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    drain(inDir, idxDir, ckpt) // generation A lands, batch 0 commits
    assert(fs(idxDir).exists(new Path(s"$idxDir/gen-1/postings")),
      "the maintain generation did not land as gen-1")
    // batch B becomes visible but is NEVER committed: the crash windows
    // below are states the loop body leaves when killed mid-writeLexDelta
    fileB.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val delta = Search.lexIndexDelta(fileB.toDF("doc_id", "text"),
      "doc_id", "text", idxDir, retiredIds.toDF("id"))
    crash(idxDir, delta)
    graft.Caching.drain()
    // restart: same checkpoint → the loop replays batch B against
    // whatever the crash left, and must converge
    drain(inDir, idxDir, ckpt)
    val rebuildDir = s"$base/rebuild"
    Search.writeLexIndex(membership.toDF("doc_id", "text"), "doc_id", "text",
      rebuildDir, buckets = 8)
    assert(postsOf(idxDir) == postsOf(rebuildDir),
      s"$tag: restarted maintain loop did not converge to the rebuild")
    def probe(d: String) =
      Search.bm25FromIndex(spark, d, Seq("spark", "common"), k = 5)
        .as[(Long, Double)].collect().toSeq
    assert(probe(idxDir) == probe(rebuildDir) && probe(idxDir).nonEmpty)
    val gens = fs(idxDir).listStatus(new Path(idxDir)).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).toSet
    assert(!gens.exists(Set("gen-77", "gen-88")),
      s"$tag: a stranded generation survived the next swap: $gens")
    graft.Caching.drain()
  }

  /** Lay a lexIndexDelta result out as generation `gen` of `idxDir`,
    * with no pointer flip: what writeLexDelta leaves when killed before
    * its `_GEN_READY` marker (`ready = false`) or between the marker and
    * the flip. */
  private def strandGen(idxDir: String, gen: String, ready: Boolean,
      delta: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)): Unit = {
    val (posts, doclens, stats, terms) = delta
    val g = s"$idxDir/$gen"
    posts.write.partitionBy("bucket").parquet(s"$g/postings")
    if (ready) {
      doclens.write.parquet(s"$g/doclens")
      stats.coalesce(1).write.parquet(s"$g/stats")
      terms.write.partitionBy("bucket").parquet(s"$g/terms")
      fs(g).create(new Path(s"$g/${Sinks.GenReadyMarker}"), true).close()
    }
    val live = postsOf(idxDir)
    assert(live.nonEmpty && !live.exists(_._1 == 20L),
      s"$gen: a generation the pointer never named went live")
  }

  test("pointer maintain, mid-write window: an UNREADY partial generation " +
       "beside the pointed one is discarded and the replay converges") {
    runWindow("midwrite") { case (idxDir, delta) =>
      strandGen(idxDir, "gen-77", ready = false, delta)
    }
  }

  test("pointer maintain, pre-pointer window: a READY generation holding " +
       "all four artifacts but never pointed to is not read, the next swap " +
       "discards it and the replay converges") {
    runWindow("prepointer") { case (idxDir, delta) =>
      strandGen(idxDir, "gen-88", ready = true, delta)
    }
  }

  test("pointer maintain, mid-pointer-update window: all four landed but " +
       "one pointer file deleted (between its delete and tmp rename) — " +
       "readers fall back, recovery rewrites, the replay converges") {
    runWindow("midpointer") { case (idxDir, (posts, doclens, stats, terms)) =>
      Search.writeLexDelta(idxDir, posts, doclens, stats, terms)
      assert(fs(idxDir).delete(
        new Path(s"$idxDir/${Sinks.PointerFile}"), false))
      // the fallback reads the generation the flip was writing
      assert(postsOf(idxDir).exists(_._1 == 20L))
    }
  }
}

/** The latch of PointerSwapSpec's torn-read test: the one task that
  * reaches [[hold]] signals `entered` and waits for `open`. A top-level
  * object, so task closures reach it without capturing the spec.
  */
object TornReadGate {
  val entered = new java.util.concurrent.CountDownLatch(1)
  val open = new java.util.concurrent.CountDownLatch(1)
  def hold(): Unit = {
    entered.countDown()
    open.await(5, java.util.concurrent.TimeUnit.MINUTES)
  }
}

/** The local filesystem under the `failcodes` scheme, except that
  * creating a file under a `codes` path component throws — a vector-index
  * build that fails after its model tables are written.
  */
class FailCodesCreateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failcodes:///")
  override def getScheme: String = "failcodes"
  private def refuse(f: Path): Unit =
    if (Iterator.iterate(f)(_.getParent).takeWhile(_ != null).exists(_.getName == "codes"))
      throw new java.io.IOException(s"failcodes: create $f refused")
  override protected def createOutputStream(f: Path, append: Boolean): java.io.OutputStream = {
    refuse(f); super.createOutputStream(f, append)
  }
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission): java.io.OutputStream = {
    refuse(f); super.createOutputStreamWithMode(f, append, permission)
  }
}
