package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Sinks
import graft.streaming.Streams

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedAgg aggregates per event-time window with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF.toDF("ts", "k", "v")
    val agg = Streams.windowedAgg(df, "ts", "10 minutes", "5 minutes",
      Seq("k"), Seq(sum("v").as("s")))
    val q = agg.writeStream.format("memory").queryName("wagg")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(
        (ts("2024-01-01 00:00:30"), "a", 1.0),
        (ts("2024-01-01 00:02:00"), "a", 2.0),
        (ts("2024-01-01 00:07:00"), "a", 10.0))
      q.processAllAvailable()
      val got = spark.table("wagg").select("k", "s").as[(String, Double)]
        .collect().toSet
      assert(got == Set(("a", 3.0), ("a", 10.0)).map(identity) ||
             got == Set(("a", 3.0), ("a", 10.0)))
    } finally q.stop()
  }

  test("sessionize groups events within the gap into one session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF.toDF("ts", "k")
    val agg = Streams.sessionize(df, "ts", "10 minutes", "2 minutes",
      Seq("k"), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(
        (ts("2024-01-01 00:00:00"), "u"),
        (ts("2024-01-01 00:01:00"), "u"),  // same session (gap < 2m)
        (ts("2024-01-01 00:10:00"), "u"))  // new session
      q.processAllAvailable()
      val got = spark.table("sess").select("n").as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streamJoin joins events with equal keys within the timeout window") {
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(Timestamp, String, Long)]
    val rMem = MemoryStream[(Timestamp, String, Long)]
    val l = lMem.toDF.toDF("l_ts", "k", "l_id")
    val r = rMem.toDF.toDF("r_ts", "k", "r_id")
    val joined = Streams.streamJoin(l, r, Seq("k"), "l_ts", "r_ts",
      "10 minutes", "5 minutes")
    val q = joined.select("l_id", "r_id").writeStream.format("memory")
      .queryName("sjoin").outputMode(OutputMode.Append()).start()
    try {
      lMem.addData((ts("2024-01-01 00:00:00"), "k1", 1L))
      rMem.addData(
        (ts("2024-01-01 00:03:00"), "k1", 2L),   // within 5m → joins
        (ts("2024-01-01 00:09:00"), "k1", 3L))   // outside 5m → no join
      q.processAllAvailable()
      val got = spark.table("sjoin").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L)))
    } finally q.stop()
  }

  test("dedupStream drops repeated keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val df = mem.toDF.toDF("ts", "k")
    val q = Streams.dedupStream(df, "ts", "10 minutes", Seq("k"))
      .writeStream.format("memory").queryName("ddup")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:00:00"), 1L),
        (ts("2024-01-01 00:00:01"), 2L))
      q.processAllAvailable()
      assert(spark.table("ddup").count() == 2)
    } finally q.stop()
  }

  test("keepBestStream converges to exactKeepBest across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val out = Streams.keepBestStream(mem.toDS())
      .toDF("key", "keep_id", "keep_score", "n_copies")
    val q = out.writeStream.format("memory").queryName("kbest")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(("k1", 1L, 10.0), ("k1", 2L, 30.0), ("k2", 4L, 5.0))
      q.processAllAvailable()
      mem.addData(("k1", 3L, 30.0)) // score tie with id 2 → higher id wins
      q.processAllAvailable()
      // changelog compaction: the max-n_copies emission is the final state
      val finals = spark.table("kbest")
        .as[(String, Long, Double, Long)].collect()
        .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._4) }
      assert(finals("k1") == (("k1", 3L, 30.0, 3L)))
      assert(finals("k2") == (("k2", 4L, 5.0, 1L)))
      // agrees with the batch keep-best on the same rows
      val batch = graft.dedup.Dedup.exactKeepBest(
        Seq(("k1", 1L, 10.0), ("k1", 2L, 30.0), ("k2", 4L, 5.0), ("k1", 3L, 30.0))
          .toDF("key", "id", "score"), "id", "key", "score")
        .as[(String, Long, Double, Long)].collect()
        .map(r => r._1 -> r).toMap
      assert(finals.values.toSet == batch.values.toSet)
    } finally q.stop()
  }

  test("lshBucketsStream converges to the batch banding across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (5L, "the quick brown fox jumps"),
      (7L, "the quick brown fox jumps"),   // identical → shares every bucket
      (3L, "the quick brown fox jumps"),   // late-arriving SMALLER id
      (9L, "an entirely different text"))
    val mem = MemoryStream[(Long, String)]
    val out = Streams.lshBucketsStream(mem.toDF.toDF("doc_id", "text"),
      "doc_id", "text", numHashes = 8, bands = 2, rowsPerBand = 4)
    val q = out.writeStream.format("memory").queryName("lshb")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(docs(0), docs(1))
      q.processAllAvailable()
      mem.addData(docs(2), docs(3))
      q.processAllAvailable()
      // changelog compaction: max-n_members emission per bucket is final
      val finals = spark.table("lshb").as[(Int, String, Long, Long)].collect()
        .groupBy(t => (t._1, t._2)).map { case (k, rows) => k -> rows.maxBy(_._4) }
      // the batch twin on the same rows lands in identical buckets
      val batch = graft.dedup.Dedup.bandedKeys(
          graft.dedup.Dedup.minhashSignature(
            docs.toDF("doc_id", "text"), "doc_id", "text", 8),
          bands = 2, rowsPerBand = 4)
        .groupBy("band", "band_key")
        .agg(min("id").as("min_id"), count(lit(1)).as("n"))
        .as[(Int, String, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t).toMap
      assert(finals == batch)
      // the late smaller id LOWERED the bucket min: every bucket holding
      // the three identical docs ends at min_id = 3 with 3 members
      assert(finals.values.count { case (_, _, minId, n) => minId == 3L && n == 3L } == 2)
    } finally q.stop()
  }

  /** Drain `files` (each one micro-batch, in order) through
    * indexMaintainStream into `idxDir`, no bootstrap. */
  private def maintain(base: String, idxDir: String,
                       files: Seq[Seq[(Long, String)]]): Unit = {
    val inDir = s"$base/in"
    val now = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (rows, i) =>
      val d = s"$inDir/g$i"
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(d)
      val t = now - 60000L * (files.size - i)
      new java.io.File(d).listFiles().foreach(_.setLastModified(t))
      new java.io.File(d).setLastModified(t)
    }
    Streams.indexMaintainStream(
      Streams.watchDirectory(spark, s"$inDir/*", format = "parquet",
        schemaDdl = Some("doc_id BIGINT, text STRING"), maxFilesPerTrigger = 1),
      "doc_id", "text", idxDir, s"$base/verdicts", s"$base/ckpt")
      .awaitTermination()
  }

  test("indexMaintainStream admits first arrivals and keeps the index ≡ admitted band keys") {
    withTempDir("graft_idxm") { base =>
      val idxDir = s"$base/index"
      // batch 0: ten docs with pairwise-disjoint vocabularies; batch 1: five
      // EXACT copies under new ids (every band collides with the
      // already-admitted original) + five new docs
      def text(i: Long) = s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
      val first = (1L to 10L).map(i => (i, text(i)))
      val second = (101L to 105L).map(i => (i, text(i - 100L))) ++
        (111L to 115L).map(i => (i, text(i)))
      maintain(base, idxDir, Seq(first, second))

      val verdicts = spark.read.parquet(s"$base/verdicts/batch_*")
        .as[(Long, Boolean)].collect().toMap
      assert(verdicts.size == 20)
      // originals and genuinely-new docs admitted; later copies rejected
      assert((1L to 10L).forall(verdicts(_)) && (111L to 115L).forall(verdicts(_)))
      assert((101L to 105L).forall(!verdicts(_)))
      // the maintained index is exactly the admitted docs' band keys
      val admitted = (first ++ second.filter(t => t._1 > 110L))
        .toDF("doc_id", "text")
      val expected = graft.dedup.Dedup.bandKeysOf(admitted, "doc_id", "text")
      val got = Streams.readIndex(spark, idxDir)
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    }
  }

  private def keyRows(dir: String): Set[(Long, Int, String)] =
    Streams.readIndex(spark, dir).select("id", "band", "band_key")
      .as[(Long, Int, String)].collect().toSet

  test("compactIndex flattens the batch tree, preserves the row set, and recovers a stranded swap") {
    withTempDir("graft_idxcompact") { base =>
      val idxDir = s"$base/index"
      def text(i: Long) = s"ka$i kb$i kc$i kd$i ke$i kf$i"
      maintain(base, idxDir, Seq((1L to 8L).map(i => (i, text(i))),
        (21L to 28L).map(i => (i, text(i)))))
      val before = keyRows(idxDir)
      // no bootstrap: the live view is the two deltas alone
      val drained = Sinks.resolveLive(spark, idxDir)
      assert(drained.paths.size == 2 && drained.watermark.contains(1L),
        s"precondition: one delta per batch, got $drained")
      Streams.compactIndex(spark, idxDir)
      // one generation, folding both batches, identical row set
      val compacted = Sinks.resolveLive(spark, idxDir)
      assert(compacted.paths.size == 1 && compacted.paths.head.endsWith("gen-0") &&
        compacted.watermark.contains(1L), s"compacted view: $compacted")
      assert(keyRows(idxDir) == before)
      // a probe sees the same index either way
      val probe = graft.dedup.Dedup.incrementalNearDup(
        Seq((100L, text(3)), (101L, text(50))).toDF("doc_id", "text"),
        "doc_id", "text", Streams.readIndex(spark, idxDir))
      assert(probe.as[(Long, Boolean)].collect().toMap == Map(100L -> true, 101L -> false))
      // stranded swap: a crash between the pointer delete and its rename —
      // readers fall back to the newest ready generation, and compacting
      // again writes the pointer back
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pointer = new org.apache.hadoop.fs.Path(
        s"$idxDir/${Sinks.PointerFile}")
      assert(fs.delete(pointer, false))
      assert(keyRows(idxDir) == before)
      Streams.compactIndex(spark, idxDir)
      assert(fs.exists(pointer) && keyRows(idxDir) == before)
    }
  }

  test("a reader frame built before compactIndex returns the pre-compaction rows") {
    withTempDir("graft_idxinflight") { base =>
      val idxDir = s"$base/index"
      def text(i: Long) = s"fa$i fb$i fc$i fd$i fe$i ff$i"
      maintain(base, idxDir, Seq((1L to 6L).map(i => (i, text(i))),
        (11L to 16L).map(i => (i, text(i)))))
      // the reader resolved the live view and listed its files
      val frame = Streams.readIndex(spark, idxDir)
      val before = frame.select("id", "band", "band_key")
        .as[(Long, Int, String)].collect().toSet
      assert(before.nonEmpty)
      Streams.compactIndex(spark, idxDir)
      // retention keeps the view the frame listed: it reads its own files
      assert(frame.select("id", "band", "band_key")
        .as[(Long, Int, String)].collect().toSet == before,
        "the pre-compaction frame must keep reading its own files")
      assert(keyRows(idxDir) == before)
    }
  }

  /** A maintained index: a bootstrap generation plus the deltas of
    * batches 0 and 1; returns every live row. */
  private def seedIndex(idxDir: String): Set[(Long, Int, String)] = {
    Sinks.swapWrite(
      Seq((1L, 0, "k1"), (2L, 1, "k2")).toDF("id", "band", "band_key"), idxDir)
    Seq((3L, 0, "k3")).toDF("id", "band", "band_key")
      .write.parquet(Sinks.deltaPath(idxDir, 0))
    Seq((4L, 2, "k4")).toDF("id", "band", "band_key")
      .write.parquet(Sinks.deltaPath(idxDir, 1))
    Set((1L, 0, "k1"), (2L, 1, "k2"), (3L, 0, "k3"), (4L, 2, "k4"))
  }

  test("a crashed compactIndex keeps every row live, and a rerun converges") {
    withTempDir("graft_idxcrash") { base =>
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def converges(idxDir: String, all: Set[(Long, Int, String)]): Unit = {
        Streams.compactIndex(spark, idxDir)
        val live = Sinks.resolveLive(spark, idxDir)
        assert(live.paths.size == 1 && live.watermark.contains(1L), s"view: $live")
        assert(keyRows(idxDir) == all)
      }
      // crash mid-write: an unready carcass (no _GEN_READY) beside gen-0
      val carcass = s"$base/carcass"
      val all = seedIndex(carcass)
      Seq((9L, 9, "junk")).toDF("id", "band", "band_key")
        .write.parquet(s"$carcass/gen-1")
      assert(keyRows(carcass) == all)
      converges(carcass, all)
      // crash after the marker, before the pointer flip: a ready generation
      // folding both batches that no pointer names yet
      val unpointed = s"$base/unpointed"
      assert(seedIndex(unpointed) == all)
      all.toSeq.toDF("id", "band", "band_key").write.parquet(s"$unpointed/gen-1")
      val marker = fs.create(new org.apache.hadoop.fs.Path(
        s"$unpointed/gen-1/${Sinks.GenReadyMarker}"), true)
      marker.write("1".getBytes("UTF-8")); marker.close()
      assert(keyRows(unpointed) == all)
      converges(unpointed, all)
    }
  }

  test("retention deletes folded deltas and keeps unfolded ones") {
    withTempDir("graft_idxretain") { base =>
      val idxDir = s"$base/index"
      val all = seedIndex(idxDir)
      def deltas() = new java.io.File(s"$idxDir/${Sinks.DeltaDir}")
        .list().filter(_.startsWith("batch_")).sorted.toSeq
      // gen-1 folds batches 0-1; gen-0 (the bootstrap, which folded none)
      // is still kept for its readers, so every delta stays
      Streams.compactIndex(spark, idxDir)
      assert(deltas() == Seq("batch_0", "batch_1"))
      Seq((5L, 3, "k5")).toDF("id", "band", "band_key")
        .write.parquet(Sinks.deltaPath(idxDir, 2))
      // gen-2 folds batch 2; the kept views are gen-1 and gen-2, and both
      // folded batches 0-1, while batch 2 is unfolded in gen-1
      Streams.compactIndex(spark, idxDir)
      assert(deltas() == Seq("batch_2"), s"deltas: ${deltas()}")
      assert(keyRows(idxDir) == all + ((5L, 3, "k5")))
      // a delta appended after the last compaction is live and kept
      Seq((6L, 0, "k6")).toDF("id", "band", "band_key")
        .write.parquet(Sinks.deltaPath(idxDir, 3))
      assert(keyRows(idxDir) == all + ((5L, 3, "k5")) + ((6L, 0, "k6")))
      Streams.compactIndex(spark, idxDir)
      assert(deltas() == Seq("batch_3"), s"deltas: ${deltas()}")
      assert(keyRows(idxDir) == all + ((5L, 3, "k5")) + ((6L, 0, "k6")))
    }
  }

  test("compactIndex throws on a failed rename and leaves the live index whole") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.failrename.impl", classOf[FailPointerRenameFs].getName)
    hc.setBoolean("fs.failrename.impl.disable.cache", true)
    try withTempDir("graft_idxfail") { base =>
      val idxDir = s"$base/index"
      val before = seedIndex(idxDir)
      // the same directory through a filesystem whose rename onto the
      // pointer file returns false, as Hadoop stores signal most failures
      val ex = intercept[IllegalArgumentException] {
        Streams.compactIndex(spark, s"failrename://$idxDir")
      }
      assert(ex.getMessage.contains("rename"), ex.getMessage)
      assert(keyRows(idxDir) == before)
      assert(new java.io.File(Sinks.deltaPath(idxDir, 1)).isDirectory,
        "a delta was deleted before the pointer flipped")
      // the next compaction on a working store converges
      Streams.compactIndex(spark, idxDir)
      assert(Sinks.resolveLive(spark, idxDir).paths.size == 1)
      assert(keyRows(idxDir) == before)
    } finally {
      hc.unset("fs.failrename.impl")
      hc.unset("fs.failrename.impl.disable.cache")
    }
  }

  test("readIndex bootstraps empty with a schema and refuses a flat directory") {
    withTempDir("graft_idxread") { base =>
      val rows = Seq((1L, 0, "k1"), (2L, 1, "k2")).toDF("id", "band", "band_key")
      // bootstrap: no dir — empty frame iff a schema says what "empty"
      // looks like, loud otherwise
      val fresh = s"$base/never_written"
      assert(Streams.readIndex(spark, fresh, emptySchema = Some(rows.schema)).isEmpty)
      intercept[IllegalStateException] { Streams.readIndex(spark, fresh) }
      // the flat bootstrap + batch_<id>/ layout is refused, not read
      val flat = s"$base/flat"
      rows.write.parquet(flat)
      rows.write.parquet(s"$flat/batch_1")
      val ex = intercept[IllegalArgumentException] {
        Streams.readIndex(spark, flat, emptySchema = Some(rows.schema))
      }
      assert(ex.getMessage.contains("not a generation-pointer"), ex.getMessage)
      intercept[IllegalArgumentException] { Streams.compactIndex(spark, flat) }
    }
  }

  test("a restarted drain resumes from the checkpoint without reprocessing") {
    // the README cluster contract: the checkpoint owns exactly-once
    // file-source progress — a second AvailableNow drain against the SAME
    // checkpoint must process only files that arrived after the first
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt_resume").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    def drain(): Unit = {
      val stream = Streams.watchDirectory(spark, inDir, format = "parquet",
        schemaDdl = Some("id BIGINT"))
      val q = Streams.toForeachBatch(stream.withColumn("doubled", col("id") * 2),
        ckpt, availableNow = true) { (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      q.awaitTermination()
    }
    spark.range(0, 5).toDF("id").coalesce(1).write.mode("append").parquet(inDir)
    drain()
    val firstRows = spark.read.parquet(s"$outDir/batch_*").count()
    assert(firstRows == 5L)
    spark.range(100, 103).toDF("id").coalesce(1).write.mode("append").parquet(inDir)
    drain()
    val all = spark.read.parquet(s"$outDir/batch_*")
    // 5 + 3 rows total: the restart did NOT reprocess the first file
    // (batch dirs are distinct, so a duplicate would double-count)
    assert(all.count() == 8L)
    assert(all.filter(col("doubled") =!= col("id") * 2).count() == 0L)
    assert(all.select("id").as[Long].collect().toSet ==
      ((0L until 5L) ++ (100L until 103L)).toSet)
  }

  test("lshBucketsStream rejects non-integral id columns at plan time") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    // a silent cast would null every string id and fail mid-stream with an
    // opaque non-nullable-field error; the contract is a loud plan-time one
    val e = intercept[IllegalArgumentException] {
      Streams.lshBucketsStream(mem.toDF.toDF("url", "text"), "url", "text")
    }
    assert(e.getMessage.contains("must be integral"))
    assert(e.getMessage.contains("xxhash64"))
  }

  test("chunkOwnersStream compacts to the batch span ownership under any split") {
    val base = java.nio.file.Files.createTempDirectory("graft_cos").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = Streams.watchDirectory(spark, inDir, format = "parquet",
      schemaDdl = Some(docs.schema.toDDL), maxFilesPerTrigger = 1)
    val q = Streams.toForeachBatch(
      Streams.chunkOwnersStream(stream, "doc_id", "text", window = 32),
      ckpt, availableNow = true, outputMode = "update") { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }
    q.awaitTermination()
    val got = spark.read.parquet(s"$outDir/batch_*")
      .groupBy("h")
      .agg(max(struct(col("n_copies"), col("owner_id"), col("owner_chunk"))).as("f"))
      .selectExpr("h", "f.owner_id AS owner_id", "f.owner_chunk AS owner_chunk",
        "f.n_copies AS n_copies")
      .as[(String, Long, Long, Long)].collect().toSet
    // the batch rule: min (id, chunk_id) per hash owns the span
    val want = graft.functions.Text.chunk(docs, "doc_id", "text", 32, 32)
      .select(md5(col("chunk_text")).as("h"), col("id"), col("chunk_id"))
      .groupBy("h")
      .agg(min(struct(col("id"), col("chunk_id"))).as("o"), count(lit(1)).as("n"))
      .selectExpr("h", "o.id AS owner_id", "o.chunk_id AS owner_chunk",
        "n AS n_copies")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("streamed IVFPQ probe ≡ the batch probe under any query-batch split") {
    val base = java.nio.file.Files.createTempDirectory("graft_sannp").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val idxDir = s"$base/index"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.similarity.Pq.writeIndex(emb, "vec_id", "embedding",
      dim = 64, m = 2, k = 4, dir = idxDir, nlist = 4)
    val queries = emb.filter(col("vec_id") < 12)
    queries.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = Streams.watchDirectory(spark, inDir, format = "parquet",
      schemaDdl = Some(queries.schema.toDDL), maxFilesPerTrigger = 1)
    val q = Streams.toForeachBatch(stream, ckpt,
      availableNow = true, outputMode = "append") { (batch, id) =>
      graft.similarity.Pq.probeIndex(batch, "vec_id", "embedding", idxDir,
          topK = 3, nprobe = 2)
        .write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }
    q.awaitTermination()
    val got = spark.read.parquet(s"$outDir/batch_*")
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = graft.similarity.Pq.probeIndex(queries, "vec_id", "embedding",
        idxDir, topK = 3, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("streamed margin mining ≡ the batch operator under any src-batch " +
       "split, forward and mutual") {
    val base = java.nio.file.Files.createTempDirectory("graft_smm").toString
    val inDir = s"$base/in"; val workDir = s"$base/work"; val ckpt = s"$base/ckpt"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    src.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = Streams.watchDirectory(spark, inDir, format = "parquet",
      schemaDdl = Some(src.schema.toDDL), maxFilesPerTrigger = 1)
    val q = Streams.marginMineStream(stream, tgt, "vec_id", "embedding",
      k = 4, workDir, ckpt)
    q.awaitTermination()
    val got = Streams.marginMineFinish(spark, workDir, k = 4, tau = 1.01)
      .as[(Long, Long, Long)].collect().toSet
    val want = graft.similarity.Mine.marginMine(src, tgt, "vec_id",
        "embedding", k = 4, tau = 1.01)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    // the MUTUAL setting reuses the same per-batch state — only the
    // drain-side projection changes
    val gotMut = Streams.marginMineFinish(spark, workDir, k = 4, tau = 1.01,
        mutual = true)
      .as[(Long, Long, Long)].collect().toSet
    val wantMut = graft.similarity.Mine.marginMine(src, tgt, "vec_id",
        "embedding", k = 4, tau = 1.01, mutual = true)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotMut == wantMut && gotMut.subsetOf(got))
  }

  test("streamed KMV sketch drains to the batch sketch under any split, " +
       "and overlap stats from the streamed side equal the batch ones") {
    val base = java.nio.file.Files.createTempDirectory("graft_skmv").toString
    val inDir = s"$base/in"; val workDir = s"$base/work"; val ckpt = s"$base/ckpt"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = docs.filter(col("doc_id") % 3 =!= 0).select("doc_id", "text")
    val b = docs.filter(col("doc_id") % 3 === 0)
    a.repartition(4).write.mode("overwrite").parquet(inDir)
    val stream = Streams.watchDirectory(spark, inDir, format = "parquet",
      schemaDdl = Some("doc_id BIGINT, text STRING"), maxFilesPerTrigger = 1)
    val q = Streams.kmvSketchStream(stream, "text", workDir, ckpt,
      ngram = 5, sketchK = 64)
    q.awaitTermination()
    val drained = Streams.kmvSketchFinish(spark, workDir, 64)
    val batch = graft.dedup.Dedup.kmvShingleSketch(a, "text", 5, 64)
    // mergeability: the drained sketch IS the whole-corpus sketch
    assert(drained.as[Seq[Long]].head() == batch.as[Seq[Long]].head())
    val gotStats = graft.dedup.Dedup.corpusOverlapFromSketches(drained,
      graft.dedup.Dedup.kmvShingleSketch(b, "text", 5, 64), 64).collect().head
    val wantStats = graft.dedup.Dedup.corpusOverlap(a, b, "text", 5, 64)
      .collect().head
    assert(gotStats.toSeq == wantStats.toSeq)
  }

  test("chunkOwnersStream rejects non-integral id columns at plan time") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val e = intercept[IllegalArgumentException] {
      Streams.chunkOwnersStream(mem.toDF.toDF("url", "text"), "url", "text")
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("substringOwnersStream compacts to the batch window ownership under any split") {
    val base = java.nio.file.Files.createTempDirectory("graft_sos").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = Streams.watchDirectory(spark, inDir, format = "parquet",
      schemaDdl = Some(docs.schema.toDDL), maxFilesPerTrigger = 1)
    val q = Streams.toForeachBatch(
      Streams.substringOwnersStream(stream, "doc_id", "text", window = 16),
      ckpt, availableNow = true, outputMode = "update") { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }
    q.awaitTermination()
    val got = spark.read.parquet(s"$outDir/batch_*")
      .groupBy("h")
      .agg(max(struct(col("n_copies"), col("owner_id"), col("owner_start"))).as("f"))
      .selectExpr("h", "f.owner_id AS owner_id", "f.owner_start AS owner_start",
        "f.n_copies AS n_copies")
      .as[(String, Long, Long, Long)].collect().toSet
    // the batch rule: min (id, start) per sliding-window hash owns it
    val want = graft.dedup.Dedup.windowHashes(docs, "doc_id", "text", 16, 1)
      .groupBy("__h")
      .agg(min(struct(col("id"), col("start"))).as("o"), count(lit(1)).as("n"))
      .selectExpr("__h", "o.id AS owner_id", "o.start AS owner_start",
        "n AS n_copies")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("winnowOwnersStream compacts to the batch print ownership under any split") {
    val base = java.nio.file.Files.createTempDirectory("graft_wos").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(inDir)
    val stream = Streams.watchDirectory(spark, inDir, format = "parquet",
      schemaDdl = Some(docs.schema.toDDL), maxFilesPerTrigger = 1)
    val q = Streams.toForeachBatch(
      Streams.winnowOwnersStream(stream, "doc_id", "text", k = 8, w = 4),
      ckpt, availableNow = true, outputMode = "update") { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }
    q.awaitTermination()
    val got = spark.read.parquet(s"$outDir/batch_*")
      .groupBy("print")
      .agg(max(struct(col("n_copies"), col("owner_id"), col("owner_pos"))).as("f"))
      .selectExpr("print", "f.owner_id AS owner_id", "f.owner_pos AS owner_pos",
        "f.n_copies AS n_copies")
      .as[(Long, Long, Long, Long)].collect().toSet
    // the batch rule: min (id, pos) per selected print owns it
    val want = graft.dedup.Dedup.winnowedPrints(docs, "doc_id", "text", k = 8, w = 4)
      .groupBy("print")
      .agg(min(struct(col("id"), col("pos"))).as("o"), count(lit(1)).as("n"))
      .selectExpr("print", "o.id AS owner_id", "o.pos AS owner_pos",
        "n AS n_copies")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("repetitionStatsStream emits the batch repetitionStats row per document") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = Streams.repetitionStatsStream(mem.toDF.toDF("doc_id", "text"),
      "doc_id", "text", n = 2)
    val q = out.writeStream.format("memory").queryName("repstats")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, "a b a b a"), (2L, "x y"), (3L, "solo"))
      q.processAllAvailable()
      mem.addData((4L, "c c c c"))
      q.processAllAvailable()
      val got = spark.table("repstats")
        .as[(Long, Long, Long, Double, Double)].collect().toSet
      val want = graft.functions.Text.repetitionStats(
        Seq((1L, "a b a b a"), (2L, "x y"), (3L, "solo"), (4L, "c c c c"))
          .toDF("doc_id", "text"), "doc_id", "text", n = 2)
        .as[(Long, Long, Long, Double, Double)].collect().toSet
      assert(got == want)
      assert(!got.exists(_._1 == 3L)) // < n tokens → no row, like batch
      assert(got.exists { case (id, ng, nd, df2, tf) =>
        id == 1L && ng == 4L && nd == 2L && df2 == 0.5 && tf == 0.5 })
    } finally q.stop()
  }

  test("runningState maintains per-key state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val ds = mem.toDS()
    val out = Streams.runningState[String, (String, Double), (Long, Double)](
      ds, _._1, (0L, 0.0), (s, v) => (s._1 + 1, s._2 + v._2))
    val q = out.toDF("k", "state").writeStream.format("memory")
      .queryName("rstate").outputMode(OutputMode.Update()).start()
    try {
      mem.addData(("a", 1.0), ("a", 2.0), ("b", 5.0))
      q.processAllAvailable()
      mem.addData(("a", 4.0))
      q.processAllAvailable()
      val last = spark.table("rstate").select("k", "state._1", "state._2")
        .as[(String, Long, Double)].collect()
        .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
      assert(last("a")._2 == 3L && last("a")._3 == 7.0)
      assert(last("b")._2 == 1L && last("b")._3 == 5.0)
    } finally q.stop()
  }

  test("watchDirectory streams files appearing in a directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-watch").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val stream = Streams.watchDirectory(spark, dir)
    val q = stream.writeStream.format("memory").queryName("watch")
      .option("checkpointLocation", ckpt).start()
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "f1.txt"), "hello\nworld\n")
      q.processAllAvailable()
      val got = spark.table("watch").as[String].collect().toSet
      assert(got == Set("hello", "world"))
    } finally q.stop()
  }

  test("enrich joins a stream against a broadcast static dimension") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val enriched = Streams.enrich(mem.toDF.toDF("user_id", "amount"), dim, Seq("user_id"))
    val q = enriched.writeStream.format("memory").queryName("enr")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, 10.0), (2L, 5.0), (3L, 1.0))
      q.processAllAvailable()
      val got = spark.table("enr").as[(Long, Double, Option[String])]
        .collect().toSet
      assert(got == Set((1L, 10.0, Some("gold")), (2L, 5.0, Some("basic")),
        (3L, 1.0, None)))
    } finally q.stop()
  }

  test("sessionizeStateStream emits each session exactly once past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val sess = Streams.sessionizeStateStream(
      mem.toDF.toDF("user_id", "ts"), "user_id", "ts",
      watermark = "0 seconds", gapUs = 100000000L) // 100 s gap
    val q = sess.writeStream.format("memory").queryName("sess_wm")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(sec: Long) = new Timestamp(sec * 1000L)
      // start at 10s: an event AT the initial watermark (epoch 0) is
      // filtered as late before it reaches the state function
      mem.addData((1L, t(10)), (1L, t(60)))
      q.processAllAvailable()
      mem.addData((1L, t(1000))) // advances the watermark past 60s + gap
      q.processAllAvailable()
      mem.addData((1L, t(1100))) // merges into the 1000s session (gap = 100s)
      q.processAllAvailable()
      val got = spark.table("sess_wm")
        .as[(Long, Long, Long, Long)].collect().toList
      // the [10s, 60s] session emitted exactly once; [1000s, 1100s] still open
      assert(got == List((1L, 10000000L, 60000000L, 2L)))
    } finally q.stop()
  }

  test("observed surfaces per-batch metrics in query progress") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = Streams.observed(mem.toDS().toDF("id", "t"), "gate",
      Seq(count(lit(1)).as("rows"),
        sum(when(col("t").isNull, 1L).otherwise(0L)).as("null_t")))
    val q = df.writeStream.format("memory").queryName("obs_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, "a"), (2L, null), (3L, "c"))
      q.processAllAvailable()
      val m = q.lastProgress.observedMetrics.get("gate")
      assert(m != null, "observed metrics missing from progress")
      assert(m.getAs[Long]("rows") == 3L && m.getAs[Long]("null_t") == 1L)
    } finally q.stop()
  }

  test("stateStoreGuard warns when heap-resident state crosses the " +
       "threshold, and stays quiet below it (r15 — the r14 crossover's " +
       "operational guardrail)") {
    implicit val sqlCtx = spark.sqlContext
    val fired = new java.util.concurrent.CopyOnWriteArrayList[(String, Long, Long, Long)]
    val quiet = new java.util.concurrent.CopyOnWriteArrayList[(String, Long, Long, Long)]
    // 1-byte threshold: ANY stateful batch crosses; Long.MaxValue: none
    val gLow = Streams.stateStoreGuard(spark, thresholdBytes = Some(1L),
      onWarn = (n, b, r, t) => fired.add((n, b, r, t)))
    val gHigh = Streams.stateStoreGuard(spark,
      thresholdBytes = Some(Long.MaxValue),
      onWarn = (n, b, r, t) => quiet.add((n, b, r, t)))
    val mem = MemoryStream[(String, Long, Double)]
    val q = Streams.keepBestStream(mem.toDS())
      .toDF("key", "keep_id", "keep_score", "n_copies")
      .writeStream.format("memory").queryName("guard_kb")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(("k1", 1L, 10.0), ("k2", 2L, 20.0), ("k3", 3L, 5.0))
      q.processAllAvailable()
      // the listener bus delivers progress events asynchronously
      val deadline = System.nanoTime() + 15e9.toLong
      while (fired.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!fired.isEmpty, "guard never fired past a 1-byte threshold")
      val (name, bytes, rows, lim) = fired.get(0)
      assert(name == "guard_kb" && bytes > lim && rows >= 3L && lim == 1L,
        s"unexpected warning payload: ($name, $bytes, $rows, $lim)")
      assert(quiet.isEmpty,
        s"guard fired below an unreachable threshold: $quiet")
    } finally {
      q.stop()
      spark.streams.removeListener(gLow)
      spark.streams.removeListener(gHigh)
    }
  }

  test("executorMemoryBytes reads a suffixless spark.executor.memory as " +
       "MiB — Spark's own default unit for the key (ADVICE r15: a bytes " +
       "default turned a 4 GiB cluster heap into a ~1 KB guardrail)") {
    assert(Streams.executorMemoryBytes("4096") == 4096L * 1024 * 1024)
    assert(Streams.executorMemoryBytes("2g") == 2L * 1024 * 1024 * 1024)
    assert(Streams.executorMemoryBytes("512m") == 512L * 1024 * 1024)
  }

  test("sessionizeState extends the trailing session across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val sess = Streams.sessionizeState(mem.toDS(), gap = 100L)
      .toDF("user_id", "session_id", "session_start", "session_end", "n_events")
    val q = sess.writeStream.format("memory").queryName("sess_state")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, 0L), (1L, 50L))
      q.processAllAvailable()
      val b1 = spark.table("sess_state")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(b1 == Set((1L, 1L, 0L, 50L, 2L))) // provisional trailing session
      mem.addData((1L, 60L), (1L, 300L))
      q.processAllAvailable()
      val all = spark.table("sess_state")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      // batch 2 re-emits session 1 EXTENDED (60 merges into it) and opens
      // session 2 at 300 (gap 240 > 100); the batch-1 row stays in the
      // append sink — readers take the latest emission per (key, session)
      assert(all == Set(
        (1L, 1L, 0L, 50L, 2L), (1L, 1L, 0L, 60L, 3L), (1L, 2L, 300L, 300L, 1L)))
    } finally q.stop()
  }
}

/** The local filesystem under the `failrename` scheme, except that a
  * rename onto a generation pointer (`_CURRENT`) returns false — the way
  * Hadoop stores report most failures, without throwing.
  */
class FailPointerRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def getScheme: String = "failrename"
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    dst.getName != Sinks.PointerFile && super.rename(src, dst)
}
