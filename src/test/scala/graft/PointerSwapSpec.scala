package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.Sinks
import graft.similarity.Search

/** The generation-POINTER swap protocol (r14) — the object-store-safe
  * form of [[Sinks.swapWrite]]: immutable `gen-N/` directories plus a
  * tiny `_CURRENT` pointer file, selected by layout or the
  * `spark.graft.swap.protocol` conf. The two-rename protocol assumes
  * `FileSystem.rename` is atomic and O(1) — false on S3-class stores
  * (copy+delete, non-atomic, O(data)); the pointer protocol never moves
  * a directory at all: commit = one small-object pointer update.
  *
  * Pinned here:
  *  - roundtrip ≡ the rename protocol (same rows back, readers resolve
  *    through [[Sinks.resolveLive]] / readIndex transparently);
  *  - a legacy FLAT dir migrates on the first pointer-protocol swap;
  *  - the three crash windows (mid-write carcass / ready-but-unpointed /
  *    mid-pointer-update) each recover — and the full ONLINE maintain
  *    loop (MaintainCrashSpec's q_stream_lexmaintain identity) converges
  *    to the from-scratch rebuild through each of them;
  *  - retention keeps the previous generation for in-flight readers.
  */
class PointerSwapSpec extends SparkSpec {
  import spark.implicits._

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** run `body` with the session forced onto the pointer protocol,
    * restoring the previous setting after (the shared test session must
    * not leak the override into rename-protocol suites).
    */
  private def withPointer[T](body: => T): T = {
    val key = "spark.graft.swap.protocol"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "pointer")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def rowsOf(dir: String): Set[(Long, String)] =
    graft.streaming.Streams.readIndex(spark, dir, recursive = false)
      .select(col("id"), col("v")).as[(Long, String)].collect().toSet

  test("pointer-protocol roundtrip: write, read via resolveLive, rewrite " +
       "from the live generation, retention keeps exactly two") {
    withPointer {
      val base = java.nio.file.Files.createTempDirectory("ptr_rt").toString
      val idx = s"$base/idx"
      Sinks.swapWrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), idx)
      val f = fs(idx)
      assert(f.exists(new Path(s"$idx/${Sinks.PointerFile}")))
      assert(rowsOf(idx) == Set((1L, "a"), (2L, "b")))
      // generation 2: read the LIVE data and write it back enriched —
      // the q_swap_roundtrip shape; the input frame's generation is not
      // touched by the new write
      val live = graft.streaming.Streams.readIndex(spark, idx,
        recursive = false)
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
    withPointer {
      val key = "spark.graft.swap.keepMinAgeMs"
      val prev = spark.conf.getOption(key)
      // 1h floor: every generation written in this test is "young", so
      // count-based retirement is suspended — the reader-SLA contract
      // (plans/LAYOUT.md): any scan started within the floor finds its
      // files even across a burst of back-to-back maintains
      spark.conf.set(key, "3600000")
      try {
        val base = java.nio.file.Files.createTempDirectory("ptr_floor").toString
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
    withPointer {
      val key = "spark.graft.swap.keepMinAgeMs"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "3600000") // 1h floor
      try {
        val base = java.nio.file.Files.createTempDirectory("ptr_sup").toString
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

  test("a legacy FLAT dir migrates on the first pointer-protocol swap; " +
       "partitioned generations keep their partition column") {
    withPointer {
      val base = java.nio.file.Files.createTempDirectory("ptr_mig").toString
      val idx = s"$base/idx"
      Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "cell")
        .write.partitionBy("cell").parquet(idx)
      // the maintain shape: the delta frame READS the flat live dir
      val maintained = graft.streaming.Streams
        .readIndex(spark, idx, recursive = false)
        .union(Seq((3L, "c", 0)).toDF("id", "v", "cell"))
      Sinks.swapWrite(maintained, idx, Seq("cell"))
      val got = graft.streaming.Streams.readIndex(spark, idx,
          recursive = false)
        .select(col("id"), col("v"), col("cell").cast("int"))
        .as[(Long, String, Int)].collect().toSet
      assert(got == Set((1L, "a", 0), (2L, "b", 1), (3L, "c", 0)))
      // flat content is gone; only the generation + pointer remain
      val names = fs(idx).listStatus(new Path(idx)).map(_.getPath.getName)
      assert(names.toSet.subsetOf(
        Set("gen-0", Sinks.PointerFile, Sinks.PointerFile + ".tmp")),
        s"legacy residue: ${names.mkString(",")}")
      // partition pruning still applies: the resolved scan carries cell
      val plan = graft.streaming.Streams.readIndex(spark, idx,
          recursive = false)
        .filter(col("cell") === 0)
        .queryExecution.executedPlan.toString
      assert(plan.contains("cell"), plan)
    }
  }

  test("a probe while the first pointer generation is written over a flat " +
       "index reads the flat data, not the unready gen-0/ beside it") {
    val docs = Seq(
      (1L, "spark common alpha"),
      (2L, "spark common beta"),
      (3L, "common rare"),
      (4L, "gamma delta")).toDF("doc_id", "text")
    withTempDir("ptr_window") { idx =>
      Search.writeLexIndex(docs, "doc_id", "text", idx, buckets = 8)
      def probe() = Search.bm25FromIndex(spark, idx,
          Seq("spark", "common", "rare"), k = 5, maxDfPermille = 700)
        .as[(Long, Double)].collect().toSeq
      val want = probe()
      // the migrating swap's write jobs have committed into gen-0/, the
      // _GEN_READY markers and the pointer are not written yet; the junk
      // rows would change every score if a reader took them in
      Seq(("junk", 99L, 0)).toDF("term", "df", "bucket")
        .write.partitionBy("bucket").parquet(s"$idx/terms/gen-0")
      Seq((9L, 3L, "junk", 1L, 0)).toDF("id", "dl", "term", "tf", "bucket")
        .write.partitionBy("bucket").parquet(s"$idx/postings/gen-0")
      Seq((99L, 999L, 8)).toDF("n", "sumdl", "buckets")
        .write.parquet(s"$idx/stats/gen-0")
      assert(probe() == want && want.nonEmpty)
      // the flat partitions keep their partition column and pruning
      val plan = graft.streaming.Streams.readIndex(spark, s"$idx/postings",
          recursive = false).filter(col("bucket") === 1)
        .queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined, plan)
      // compaction reads the same live data: the unready gen-0/ is not
      // folded into the compacted stats
      graft.streaming.Streams.compactIndex(spark, s"$idx/stats")
      assert(spark.read.parquet(s"$idx/stats").select("n").as[Long]
        .collect().toSeq == Seq(4L))
    }
  }

  test("crash windows: unready carcass cleaned; ready-but-unpointed " +
       "promoted by recoverSwap; mid-pointer-update falls back to the " +
       "newest ready generation") {
    withPointer {
      val base = java.nio.file.Files.createTempDirectory("ptr_cw").toString
      val idx = s"$base/idx"
      Sinks.swapWrite(Seq((1L, "a")).toDF("id", "v"), idx)
      val f = fs(idx)
      // window 1: a mid-write carcass (partial gen, no _GEN_READY)
      Seq((7L, "junk")).toDF("id", "v").write.parquet(s"$idx/gen-5")
      assert(rowsOf(idx) == Set((1L, "a"))) // readers never see it
      Sinks.swapWrite(Seq((2L, "b")).toDF("id", "v"), idx)
      assert(!f.exists(new Path(s"$idx/gen-5")), "carcass not cleaned")
      // the replayed generation numbers PAST the carcass, never reuses it
      assert(rowsOf(idx) == Set((2L, "b")))
      // window 2: a completed generation whose pointer update never ran —
      // recoverSwap PROMOTES it (pure pointer rewrite, no data moves)
      Seq((3L, "c")).toDF("id", "v").write.parquet(s"$idx/gen-9")
      f.create(new Path(s"$idx/gen-9/${Sinks.GenReadyMarker}"), true).close()
      assert(Sinks.recoverSwap(spark, idx))
      assert(rowsOf(idx) == Set((3L, "c")))
      assert(!Sinks.recoverSwap(spark, idx)) // idempotent: nothing stranded
      // window 3: crash between pointer delete and tmp rename — readers
      // fall back to the newest READY generation; recovery rewrites
      assert(f.delete(new Path(s"$idx/${Sinks.PointerFile}"), false))
      assert(rowsOf(idx) == Set((3L, "c")))
      assert(Sinks.recoverSwap(spark, idx))
      assert(f.exists(new Path(s"$idx/${Sinks.PointerFile}")))
      assert(rowsOf(idx) == Set((3L, "c")))
    }
  }

  test("a protocol switch finishes stranded RENAME-protocol residue: a " +
       "marked .next promotes (recoverSwap's rename arm), carcass " +
       "siblings are cleared, and the first pointer swap migrates") {
    withPointer {
      val base = java.nio.file.Files.createTempDirectory("ptr_res").toString
      val idx = s"$base/idx"
      val f = fs(idx)
      // the between-renames crash of a rename-protocol life: live dir
      // missing, completed marked .next
      Seq((1L, "a")).toDF("id", "v").write.parquet(s"$idx.next")
      f.create(new Path(s"$idx.next/_SWAP_READY"), true).close()
      // restart: recoverSwap promotes via its rename arm (the layout is
      // not pointer yet), THEN the maintain generation reads the live
      // data and swap-writes back — migrating to pointer layout
      assert(Sinks.recoverSwap(spark, idx))
      val maintained = graft.streaming.Streams
        .readIndex(spark, idx, recursive = false)
        .union(Seq((2L, "b")).toDF("id", "v"))
      Sinks.swapWrite(maintained, idx)
      assert(rowsOf(idx) == Set((1L, "a"), (2L, "b")))
      assert(!f.exists(new Path(s"$idx.next")) &&
        !f.exists(new Path(s"$idx.old")))
      assert(f.exists(new Path(s"$idx/${Sinks.PointerFile}")))
      // and an unpromoted marked .next BESIDE a live dir follows the
      // rename arm's documented redo rule: discarded at the next swap
      Seq((9L, "junk")).toDF("id", "v").write.parquet(s"$idx.next")
      f.create(new Path(s"$idx.next/_SWAP_READY"), true).close()
      Sinks.swapWrite(Seq((3L, "c")).toDF("id", "v"), idx)
      assert(!f.exists(new Path(s"$idx.next")))
      assert(rowsOf(idx) == Set((3L, "c")))
    }
  }

  test("an in-flight reader frame survives a full generation swap: " +
       "retention keeps the previous generation's files on disk") {
    withPointer {
      val base = java.nio.file.Files.createTempDirectory("ptr_rd").toString
      val idx = s"$base/idx"
      Sinks.swapWrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), idx)
      // the reader resolved gen-0 and its file index listed gen-0's files
      val frame = graft.streaming.Streams.readIndex(spark, idx,
        recursive = false)
      assert(frame.count() == 2)
      // a new generation lands — the rename protocol's equivalent moment
      // deletes the old dir within microseconds; the pointer protocol's
      // retention (keepGenerations = 2) keeps gen-0 intact
      Sinks.swapWrite(Seq((9L, "z")).toDF("id", "v"), idx)
      assert(frame.select(col("id")).as[Long].collect().toSet == Set(1L, 2L),
        "the pre-swap frame must keep reading its own generation")
      // while NEW readers resolve the new generation
      assert(rowsOf(idx) == Set((9L, "z")))
    }
  }

  // ------------------------------------------------------------------
  // the MaintainCrashSpec identity, re-run under the pointer protocol
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
    graft.streaming.Streams.readIndex(spark, s"$dir/postings", recursive = false)
      .select(col("id"), col("dl"), col("term"), col("tf"),
        col("bucket").cast("long"))
      .as[(Long, Long, String, Long, Long)].collect().toSet

  private def runWindow(tag: String)(
      crash: (String, (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)) => Unit): Unit = withPointer {
    val base = java.nio.file.Files.createTempDirectory(s"ptrcrash_$tag").toString
    val inDir = s"$base/in"; val idxDir = s"$base/index"; val ckpt = s"$base/ckpt"
    // bootstrap writes FLAT — the first maintain generation migrates each
    // subdir to pointer layout (exercised on every window)
    Search.writeLexIndex(corpus.toDF("doc_id", "text"), "doc_id", "text",
      idxDir, buckets = 8)
    fileA.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    drain(inDir, idxDir, ckpt)
    assert(fs(idxDir).exists(
      new Path(s"$idxDir/postings/${Sinks.PointerFile}")),
      "maintain generation did not migrate to pointer layout")
    fileB.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val delta = Search.lexIndexDelta(fileB.toDF("doc_id", "text"),
      "doc_id", "text", idxDir, retiredIds.toDF("id"))
    crash(idxDir, delta)
    graft.Caching.drain()
    drain(inDir, idxDir, ckpt)
    val rebuildDir = java.nio.file.Files
      .createTempDirectory(s"ptrcrash_rb_$tag").toString
    Search.writeLexIndex(membership.toDF("doc_id", "text"), "doc_id", "text",
      rebuildDir, buckets = 8)
    assert(postsOf(idxDir) == postsOf(rebuildDir),
      s"$tag: restarted maintain loop did not converge to the rebuild")
    def probe(d: String) =
      Search.bm25FromIndex(spark, d, Seq("spark", "common"), k = 5)
        .as[(Long, Double)].collect().toSeq
    assert(probe(idxDir) == probe(rebuildDir) && probe(idxDir).nonEmpty)
    graft.Caching.drain()
  }

  test("pointer maintain, mid-write window: an UNREADY partial generation " +
       "beside the pointed one is discarded and the replay converges") {
    runWindow("midwrite") { case (idxDir, (posts, _, _, _)) =>
      posts.limit(1).write.partitionBy("bucket")
        .parquet(s"$idxDir/postings/gen-77")
    }
  }

  test("pointer maintain, pre-pointer window: terms/stats landed, " +
       "postings READY but unpointed, doclens untouched — recovery " +
       "promotes and the replay is idempotent") {
    runWindow("prepointer") { case (idxDir, (posts, _, stats, terms)) =>
      Sinks.swapWrite(terms.repartition(col("bucket")), s"$idxDir/terms",
        Seq("bucket"))
      Sinks.swapWrite(stats.coalesce(1), s"$idxDir/stats")
      // postings generation fully written + READY, pointer never updated
      posts.write.partitionBy("bucket").parquet(s"$idxDir/postings/gen-88")
      fs(idxDir).create(
        new Path(s"$idxDir/postings/gen-88/${Sinks.GenReadyMarker}"),
        true).close()
    }
  }

  test("pointer maintain, mid-pointer-update window: all four landed but " +
       "one pointer file deleted (between its delete and tmp rename) — " +
       "readers fall back, recovery rewrites, the replay converges") {
    runWindow("midpointer") { case (idxDir, (posts, doclens, stats, terms)) =>
      Search.writeLexDelta(idxDir, posts, doclens, stats, terms)
      assert(fs(idxDir).delete(
        new Path(s"$idxDir/doclens/${Sinks.PointerFile}"), false))
    }
  }
}
