package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.Checkpoints.PinSyntax
import graft.functions.Bpe
import graft.json.MtlParser

/** `Bpe.train` and `MtlParser.inferTransitive` run small inputs on the
  * driver and large ones as Spark jobs. Both paths are called directly on
  * the same input here, and must return the same rows; the public calls
  * are pinned to the driver path by their job counts and job labels.
  */
class DriverPathSpec extends SparkSpec {
  import spark.implicits._

  /** Seeded random corpus: `docs` lines of 1-8 tokens over `alphabet`,
    * each token 1 to `maxLen` symbols. Small alphabets make ties in pair
    * counts and overlapping runner-ups common.
    */
  private def corpus(seed: Long, alphabet: String, docs: Int, maxLen: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (1 to docs).map { d =>
      val toks = Seq.fill(1 + rnd.nextInt(8)) {
        String.valueOf(Array.fill(1 + rnd.nextInt(maxLen))(alphabet(rnd.nextInt(alphabet.length))))
      }
      (d.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** Both BPE paths on `docs`: asserts identical merge tables (rank order)
    * and vocab row sets, and returns the merge table.
    */
  private def bpeBoth(docs: DataFrame, nMerges: Int, perRound: Int,
                      maxRounds: Int): Seq[(Long, String, String, String, Long)] = {
    val vocab = Bpe.initialVocab(docs, "text")
    val (dm, dv) = Bpe.trainDriver(spark, vocab.collect(), vocab.schema, nMerges, perRound,
      maxRounds)
    val (sm, sv) = Bpe.trainSpark(vocab.pinned(), nMerges, perRound, maxRounds)
    def merges(m: DataFrame) =
      m.orderBy("rank").as[(Long, String, String, String, Long)].collect().toSeq
    val got = merges(dm)
    val ctx = s"nMerges=$nMerges R=$perRound maxRounds=$maxRounds"
    assert(got == merges(sm), ctx)
    assert(dm.schema == sm.schema && dv.schema == sv.schema, ctx)
    assert(dv.collect().toSet == sv.collect().toSet, ctx)
    got
  }

  test("Bpe driver and Spark paths train identical tables on random corpora") {
    // ASCII, a tab and a control char (tokens split on ' ' only, so either
    // can end a token), and non-ASCII BMP letters that sort above ASCII
    val alphabet = "abcd\t\u0001é中ß"
    val cases = Seq(
      (11L, 16, 1, Int.MaxValue), // classic sequential BPE
      (12L, 24, 4, Int.MaxValue),
      (13L, 40, 8, 3),            // a maxRounds stop
      (14L, 500, 8, Int.MaxValue) // runs the vocabulary out of pairs
    )
    val tables = cases.map { case (seed, n, r, rounds) =>
      val t = bpeBoth(corpus(seed, alphabet, 24, 5), n, r, rounds)
      assert(t.nonEmpty)
      (n, t)
    }
    // the exhausted run stops short, and the cases together hit ties in n
    assert(tables.last._2.size < tables.last._1)
    assert(tables.exists(_._2.groupBy(_._5).exists(_._2.size > 1)))
    assert(tables.exists(_._2.exists(m => (m._2 + m._3).exists(_ > 0x7f))))
  }

  test("Bpe paths agree on overlap skips, short rounds and trailing control chars") {
    // (b,c) shares b with the round's (a,b): skipped, trained next round
    assert(bpeBoth(Seq((1L, "abc abc ab")).toDF("doc_id", "text"), 2, 2, 9) ==
      Seq((1L, "a", "b", "ab", 3L), (2L, "ab", "c", "abc", 2L)))
    // one round wants 8 but only 2 disjoint pairs exist; the table runs out
    assert(bpeBoth(Seq((1L, "ab ab cd")).toDF("doc_id", "text"), 16, 8, 9) ==
      Seq((1L, "a", "b", "ab", 2L), (2L, "c", "d", "cd", 1L)))
    // a trailing \t or \u0001 is a symbol: only spaces are trimmed
    val ctl = Seq((1L, "a\t a\t a\t b\u0001")).toDF("doc_id", "text")
    assert(bpeBoth(ctl, 4, 1, 9) ==
      Seq((1L, "a", "\t", "a\t", 3L), (2L, "b", "\u0001", "b\u0001", 1L)))
    // ties in n break by (left, right) in UTF-8 byte order
    val tie = Seq((1L, "zé za ab")).toDF("doc_id", "text")
    assert(bpeBoth(tie, 3, 1, 9).map(m => (m._2, m._3)) ==
      Seq(("a", "b"), ("z", "a"), ("z", "é")))
  }

  test("Bpe.train below the vocab ceiling runs on the driver, labeled, unpinned") {
    val docs = corpus(21L, "abcde", 40, 6)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val rec = Jobs.recorded(spark)(Bpe.train(docs, "text", 12, 4))
    assert(rec.jobs.size <= 2, rec.jobs.map(_.site))
    assert(rec.jobs.forall(_.desc == "Bpe.train: driver"), rec.jobs.map(_.desc))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    val vocab = Bpe.initialVocab(docs, "text").pinned()
    val spk = Jobs.recorded(spark)(Bpe.trainSpark(vocab, 12, 4, Int.MaxValue))
    assert(spk.jobs.nonEmpty && spk.jobs.forall(_.desc == "Bpe.train: spark"),
      spk.jobs.map(_.desc))
  }

  /** Both closure paths on `edges`: asserts identical schemas and row
    * sets, and returns the rows.
    */
  private def closureBoth(edges: DataFrame, maxRounds: Int): Set[Row] = {
    val base = MtlParser.closureEdges(edges, "r")
    val d = MtlParser.closureDriver(spark, base.collect(), base.schema, "out", maxRounds).get
    val s = MtlParser.closureSpark(base.pinned(), "out", maxRounds)
    assert(d.schema == s.schema)
    val got = d.collect().toSet
    assert(got == s.collect().toSet, s"maxRounds=$maxRounds")
    got
  }

  /** A seeded random multigraph over `nodes` ids: duplicate edges, self
    * loops and cycles by chance, about one id in twelve null, and some
    * edges under another relation.
    */
  private def graph(seed: Long, nodes: Int, edges: Int): Seq[(Option[Long], Option[Long], String)] = {
    val rnd = new scala.util.Random(seed)
    def id() = if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(nodes).toLong)
    Seq.fill(edges)((id(), id(), if (rnd.nextInt(8) == 0) "other" else "r"))
  }

  test("closure driver and Spark paths agree on random graphs, string and Long ids") {
    for (seed <- 1L to 4L; rounds <- Seq(1, 2, 20)) {
      val g = graph(seed, 14, 24)
      val longs = g.toDF("src_id", "dst_id", "rel")
      val strings = g.map { case (s, d, r) => (s.map(x => s"n$x"), d.map(x => s"n$x"), r) }
        .toDF("src_id", "dst_id", "rel")
      assert(closureBoth(longs, rounds).size == closureBoth(strings, rounds).size)
    }
    // a 12-hop chain closed to 2^1 and 2^2 hops: the bound, not the fixpoint
    val chain = (0L until 12L).map(i => (i, i + 1, "r")).toDF("src_id", "dst_id", "rel")
    assert(closureBoth(chain, 1).size == 12 + 11)
    assert(closureBoth(chain, 2).size == (1 to 4).map(h => 13 - h).sum)
    assert(closureBoth(chain, 20).size == 13 * 12 / 2)
  }

  test("closure keeps null-id edges and never joins through a null") {
    val e = Seq((Some("x"), None, "r"), (None, Some("y"), "r"), (Some("y"), Some("z"), "r"),
      (Some("z"), None, "r"), (Some("y"), Some("z"), "r"), (Some("z"), Some("z"), "r"))
      .toDF("src_id", "dst_id", "rel")
    assert(closureBoth(e, 20) == Set[(String, String)](
      ("x", null), (null, "y"), ("y", "z"), ("z", null), ("z", "z"),
      (null, "z"), ("y", null), (null, null)).map { case (s, d) => Row(s, d, "out") })
  }

  test("inferTransitive past the pair cap falls back to Spark and still matches") {
    // a chain's closure is quadratic: n(n+1)/2 pairs for n edges
    val n = Iterator.from(1).find(k => k.toLong * (k + 1) / 2 > MtlParser.DriverPairCap).get
    val chain = (0 until n).map(i => (i, i + 1, "r")).toDF("src_id", "dst_id", "rel")
    val base = MtlParser.closureEdges(chain, "r")
    assert(MtlParser.closureDriver(spark, base.collect(), base.schema, "out", 20).isEmpty)
    val rec = Jobs.recorded(spark) {
      MtlParser.inferTransitive(chain, "r", "out").as[(Int, Int, String)].collect()
    }
    val want = for (i <- 0 until n; j <- i + 1 to n) yield (i, j, "out")
    assert(rec.value.length == want.size && rec.value.toSet == want.toSet)
    // the Spark loop's pin reads the edge list the take built: its job
    // runs no shuffle map stage of its own
    val pin = rec.jobs.find(_.desc == "inferTransitive: spark")
    assert(pin.exists(_.shuffleWrite == 0), rec.jobs.map(j => (j.desc, j.shuffleWrite)))
  }

  test("Bpe.train above the vocab ceiling trains on Spark from the one vocab build") {
    // 65,537 distinct words: base-8 numerals over "abcdefgh", 6 symbols each
    val words = (0 to Bpe.DriverVocabCeiling).map { i =>
      Iterator.iterate(i)(_ / 8).take(6).map(d => ('a' + d % 8).toChar).mkString
    }
    val docs = words.grouped(512).zipWithIndex
      .map { case (ws, d) => (d.toLong, ws.mkString(" ")) }.toSeq.toDF("doc_id", "text")
    val rec = Jobs.recorded(spark) {
      val (m, v) = Bpe.train(docs, "text", 8, 4, 2)
      (m.orderBy("rank").as[(Long, String, String, String, Long)].collect().toSeq,
        v.collect().toSet)
    }
    val vocab = Bpe.initialVocab(docs, "text")
    val (dm, dv) = Bpe.trainDriver(spark, vocab.collect(), vocab.schema, 8, 4, 2)
    assert(rec.value._1 == dm.orderBy("rank").as[(Long, String, String, String, Long)]
      .collect().toSeq)
    assert(rec.value._2 == dv.collect().toSet)
    val pin = rec.jobs.find(_.desc == "Bpe.train: spark")
    assert(pin.exists(_.shuffleWrite == 0), rec.jobs.map(j => (j.desc, j.shuffleWrite)))
  }

  test("small inferTransitive runs on the driver in at most 2 jobs, labeled") {
    val e = Seq(("a", "b", "r"), ("b", "c", "r"), ("c", "a", "r"))
      .toDF("src_id", "dst_id", "rel")
    val rec = Jobs.recorded(spark)(MtlParser.inferTransitive(e, "r", "out").collect())
    assert(rec.value.length == 9)
    assert(rec.jobs.size <= 2, rec.jobs.map(_.site))
    assert(rec.jobs.forall(_.desc == "inferTransitive: driver"), rec.jobs.map(_.desc))
  }

  test("a Spark-path call leaves at most its returned frame's pin") {
    val sc = spark.sparkContext
    def newPins(body: => Unit): Int = {
      val before = sc.getPersistentRDDs.keySet
      body
      (sc.getPersistentRDDs.keySet -- before).size
    }
    val docs = corpus(31L, "abcd", 30, 6)
    assert(newPins {
      val (m, v) = Bpe.trainSpark(Bpe.initialVocab(docs, "text").pinned(), 12, 2, Int.MaxValue)
      m.collect(); v.collect()
    } <= 1)
    val chain = (0L until 20L).map(i => (i, i + 1, "r")).toDF("src_id", "dst_id", "rel")
    assert(newPins {
      val edges = MtlParser.closureEdges(chain, "r").pinned()
      assert(MtlParser.closureSpark(edges, "out", 20).count() == 20 * 21 / 2)
    } <= 1)
  }
}
