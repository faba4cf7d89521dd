package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Caching
import graft.similarity.Search
import graft.streaming.Streams

/** index_probe: closed loop, one client. Each op is one
  * `Search.bm25FromIndex` call on a stored lexical index, collecting the
  * top-k. The seeded probe sequence mixes a rare, a mid and a common term
  * per probe, and a share of probes carries a stop term that the
  * df-ceiling guard drops.
  *
  * Set-up builds the index with `writeLexIndex` over a bootstrap corpus,
  * then brings it up to date from delta files through a
  * `Streams.toForeachBatch` stream (`availableNow`, one file per
  * micro-batch) running `Search.lexIndexDelta` + `writeLexDelta`; every
  * batch retires as many stored docs as it admits. The window probes the
  * resulting static index. After the window the index must be
  * row-identical to a `writeLexIndex` rebuild over the final membership,
  * and every probe's top-k must equal `Search.bm25TopK` over that
  * membership.
  */
object IndexProbe {
  val BootDocs = 2000
  val Vocab = 4000
  val Buckets = 8
  val K = 10
  val DeltaFiles = 1
  val DeltaDocs = 50      // per file; each batch retires as many stored docs
  val ProbeSets = 6
  val Probes = 25         // fixed per run: the p60 tail keeps 10 samples beyond it
  val WarmupProbes = 2
  val StopShare = 0.3
  // in every document / in ~99.5% of them: both above the 990 permille
  // df ceiling, so the guard drops them before their postings are read
  val StopTerms = Seq("the", "and")

  /** Seeded documents: Zipf words between the stop terms. */
  private def texts(words: Words, rng: scala.util.Random, n: Int): Seq[String] =
    Seq.fill(n) {
      val t = words.text(12, 30)
      if (rng.nextDouble() < 0.995) s"the $t and" else s"the $t"
    }

  /** Probe term sets: one rare, one mid, one common term each (by the
    * corpus' document frequency), plus a stop term in about [[StopShare]]
    * of them.
    */
  private def probeSets(rng: scala.util.Random, docs: Seq[String], n: Int): Seq[Seq[String]] = {
    val df = docs.iterator.flatMap(_.split(" ").distinct).toSeq
      .groupBy(identity).map { case (w, ws) => w -> ws.size }
    val nDocs = docs.size
    def band(lo: Double, hi: Double) =
      df.filter { case (w, d) => !StopTerms.contains(w) && d >= lo * nDocs && d <= hi * nDocs }
        .keys.toVector.sorted
    val rare = band(0.0005, 0.003); val mid = band(0.01, 0.05); val common = band(0.1, 0.5)
    require(rare.nonEmpty && mid.nonEmpty && common.nonEmpty, "empty df band")
    def pick(v: Vector[String]) = v(rng.nextInt(v.size))
    Seq.fill(n) {
      val base = Seq(pick(rare), pick(mid), pick(common))
      if (rng.nextDouble() < StopShare) base :+ StopTerms(rng.nextInt(StopTerms.size)) else base
    }
  }

  private def topK(rows: Array[Row]): Seq[(Long, Double)] =
    rows.map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toSeq

  def run(c: Ctx): Result = {
    val spark = c.spark
    import spark.implicits._
    val tr = c.tr
    val dir = s"${c.work}/probe"
    val idx = s"$dir/index"
    val in = Paths.get(dir, "in")
    val rng = c.rng(2)
    val words = new Words(rng, Vocab)

    val t0 = System.nanoTime()
    val boot = texts(words, rng, BootDocs).zipWithIndex.map { case (t, i) => (i + 1L, t) }
    Search.writeLexIndex(boot.toDF("doc_id", "text").repartition(Main.Cores), "doc_id", "text",
      idx, buckets = Buckets)
    // the delta files: written before the stream starts, read one per batch
    Files.createDirectories(in)
    val deltas = Seq.tabulate(DeltaFiles) { f =>
      texts(words, rng, DeltaDocs).zipWithIndex.map { case (t, i) =>
        (1000000L * (f + 1) + i, t) }
    }
    for ((docs, f) <- deltas.zipWithIndex)
      Files.write(in.resolve(f"d-$f%03d.json"),
        docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.asJava)
    val retireNext = new java.util.concurrent.atomic.AtomicLong(1L)
    val stream = Streams.watchDirectory(spark, in.toString, format = "json",
      schemaDdl = Some("doc_id BIGINT, text STRING"), maxFilesPerTrigger = 1)
    Streams.toForeachBatch(stream, s"$dir/ckpt", availableNow = true) { (batch, _) =>
      val n = batch.count()
      if (n > 0) {
        val first = retireNext.getAndAdd(n)
        tr.span("similarity", "Search.lexIndexDelta+writeLexDelta") {
          val (posts, doclens, stats, terms) = Search.lexIndexDelta(batch, "doc_id", "text",
            idx, (first until first + n).toDF("id"))
          Search.writeLexDelta(idx, posts, doclens, stats, terms)
        }
        tr.span("caching", "Caching.drain") { Caching.drain() }
      }
    }.awaitTermination()
    val members: Seq[(Long, String)] = boot.drop(retireNext.get.toInt - 1) ++ deltas.flatten
    val sets = probeSets(rng, members.map(_._2), ProbeSets)
    for (i <- 0 until WarmupProbes)
      Search.bm25FromIndex(spark, idx, sets(i % sets.size), K).collect()
    val order = Seq.fill(Probes)(rng.nextInt(ProbeSets))
    val setupS = (System.nanoTime() - t0) / 1e9

    // the window; a traced run alternates traced probes with probes that
    // run with no span and no listener attached
    val got = new Array[Seq[(Long, Double)]](Probes)
    val ms = Array.fill(Probes)(0.0)
    var peakMb = 0.0
    val w0 = System.nanoTime()
    for (i <- 0 until Probes) {
      val traced = i % 2 == 0 || !tr.enabled
      tr.listening(traced)(tr.tracing(traced) {
        val (r, t) = Common.timeS {
          tr.span("similarity", "Search.bm25FromIndex") {
            topK(Search.bm25FromIndex(spark, idx, sets(order(i)), K).collect())
          }
        }
        got(i) = r; ms(i) = t * 1e3
        tr.span("caching", "Caching.drain") { Caching.drain() }
      })
      if (tr.enabled) peakMb = math.max(peakMb, Common.persistedMb(spark))
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    Caching.drain()
    val leftAfterDrain = spark.sparkContext.getPersistentRDDs.size
    tr.flush()

    // correctness, outside the window: the maintained index against a
    // rebuild over the final membership, each probe against bm25TopK
    val v0 = System.nanoTime()
    val memberDf = members.toDF("doc_id", "text")
    val ref = s"$dir/index_ref"
    Search.writeLexIndex(memberDf, "doc_id", "text", ref, buckets = Buckets)
    def table(base: String, t: String): DataFrame = {
      val d = Streams.readIndex(spark, s"$base/$t", recursive = false)
      if (d.columns.contains("bucket")) d.withColumn("bucket", col("bucket").cast("long")) else d
    }
    // small tables: compared as sorted row multisets in the driver
    val indexOk = Seq("postings", "doclens", "stats", "terms").forall { t =>
      val a = table(idx, t); val b = table(ref, t).select(a.columns.map(col): _*)
      def rows(d: DataFrame) = d.collect().map(_.mkString("|")).sorted.toSeq
      rows(a) == rows(b)
    }
    val df: Map[String, Int] = members.iterator.flatMap(_._2.split(" ").distinct).toSeq
      .groupBy(identity).map { case (w, ws) => w -> ws.size }
    val expected: Map[Int, Seq[(Long, Double)]] = order.distinct.map { q =>
      val kept = sets(q).filter(t => df.getOrElse(t, 0) * 1000L <= 990L * members.size)
      q -> topK(Search.bm25TopK(memberDf, "doc_id", "text", kept, K).collect())
    }.toMap
    val ok = if (indexOk) (0 until Probes).count(i => got(i) == expected(order(i))) else 0
    println(f"diag verify_s=${(System.nanoTime() - v0) / 1e9}%.3f index_ok=$indexOk")
    val batches = tr.batchDurations
    Result(
      setupS = setupS,
      op = ms.map(_ / 1e3).toSeq, probe = ms.toSeq,
      records = Probes, windowS = windowS,
      attempted = Probes, ok = ok, correct = ok == Probes,
      overhead = (ms.indices.filter(_ % 2 == 0).map(ms(_)), ms.indices.filter(_ % 2 == 1).map(ms(_))),
      layers = Map(
        "streaming.batches" -> batches.size.toDouble,
        "streaming.batch_p50_s" -> (if (batches.isEmpty) 0.0
          else Stats.median(batches.map(_._2 / 1e3))),
        "caching.peak_persisted_mb" -> peakMb,
        "caching.left_after_drain" -> leftAfterDrain.toDouble))
  }
}
