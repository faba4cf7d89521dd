package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Checkpoints.PinSyntax
import graft.functions.Bpe
import graft.json.MtlParser

/** Wall time of `Bpe.train` and `MtlParser.inferTransitive` on each of
  * their two paths, on synthetic inputs near the driver ceilings — the
  * measurement the ceilings and the closure pair cap are set from. Each
  * line: input, path, then the min and median seconds of `SPARK_GRAFT_RUNS`
  * (default 3) runs, each from the raw input to the returned frames
  * counted; for BPE also the driver path's collect and its rounds alone.
  *
  * Usage: `SPARK_GRAFT_CPUS=4 sbt "Test/runMain graft.DriverPathBench"`.
  */
object DriverPathBench {

  private def time(runs: Int)(body: => Unit): (Double, Double) = {
    val ts = (1 to runs).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted
    (ts.head, ts(ts.size / 2))
  }

  /** `words` distinct words, each used 1-3 times: syllables over a
    * 20-letter alphabet so that pair counts repeat as in text.
    */
  private def corpus(spark: SparkSession, words: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val syll = Seq("ka", "to", "ri", "en", "sa", "mo", "lu", "an", "de", "pi",
      "ho", "ve", "gu", "ne", "st", "ch", "or", "ba", "fi", "wy")
    val ws = (0 until words).map { i =>
      Iterator.iterate(i)(_ / syll.size).takeWhile(_ > 0).map(d => syll(d % syll.size))
        .mkString + syll(rnd.nextInt(syll.size))
    }.distinct
    ws.flatMap(w => Seq.fill(1 + rnd.nextInt(3))(w)).grouped(64).zipWithIndex
      .map { case (t, d) => (d.toLong, t.mkString(" ")) }.toSeq.toDF("doc_id", "text")
  }

  /** `chains` chains of `len` edges over string ids: the shape of
    * q_kb_infer's next-order graph, `chains * len * (len + 1) / 2` pairs.
    */
  private def chains(spark: SparkSession, chains: Int, len: Int): DataFrame = {
    import spark.implicits._
    (0 until chains).flatMap(c => (0 until len).map(i => (s"$c.$i", s"$c.${i + 1}", "next")))
      .toDF("src_id", "dst_id", "rel")
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    def report(input: String, path: String)(body: => Unit): Unit = {
      body // warm
      val (min, med) = time(runs)(body)
      println(f"$input%-34s $path%-8s min ${min}%7.3fs  median ${med}%7.3fs")
    }

    for (words <- Seq(16384, 60000); (n, r, q) <- Seq((544, 32, 17), (64, 1, 64))) {
      val docs = corpus(spark, words).cache()
      val nWords = Bpe.wordCounts(docs, "text").count()
      val in = s"bpe $nWords words $n/$r/$q"
      def train(f: DataFrame => (DataFrame, DataFrame)): Unit = {
        val vocab = Bpe.initialVocab(docs, "text")
        val (m, v) = f(vocab); m.count(); v.count()
      }
      report(in, "public")(train(_ => Bpe.train(docs, "text", n, r, q)))
      report(in, "driver")(train(v => Bpe.trainDriver(spark, v.collect(), v.schema, n, r, q)))
      report(in, "spark")(train(v => Bpe.trainSpark(v.pinned(), n, r, q)))
      // the driver path's two parts: the vocab collect, and the rounds
      val vocab = Bpe.initialVocab(docs, "text")
      val rows = vocab.collect()
      report(in, "collect")(vocab.collect())
      report(in, "rounds")(Bpe.trainDriver(spark, rows, vocab.schema, n, r, q))
      docs.unpersist()
    }

    // pairs: 2.2k x 28 = 62k, 4.4k x 28 = 123k, 8k x 28 = 225k (under the
    // cap), 4k x 120 = 480k (past it: the public call falls back)
    for ((c, len) <- Seq((2200, 7), (4400, 7), (8000, 7), (4000, 15))) {
      val edges = chains(spark, c, len).cache()
      edges.count()
      val in = s"closure ${c * len} edges ${c.toLong * len * (len + 1) / 2} pairs"
      report(in, "public")(MtlParser.inferTransitive(edges, "next", "before").count())
      val base = MtlParser.closureEdges(edges, "next")
      if (c.toLong * len * (len + 1) / 2 <= MtlParser.DriverPairCap)
        report(in, "driver")(MtlParser.closureDriver(spark, base.collect(), base.schema,
          "before", 20).get.count())
      report(in, "spark")(MtlParser.closureSpark(base.pinned(), "before", 20).count())
      edges.unpersist()
    }
    spark.stop()
  }
}
