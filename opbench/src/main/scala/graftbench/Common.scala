package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload needs: the session, its own scratch dir, the seed, the
  * run length, and the tracer (disabled on end-to-end runs).
  */
final case class Ctx(spark: SparkSession, work: String, seed: Long,
                     seconds: Int, tr: Trace) {
  def rng(stream: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L + stream)
}

/** One run's raw outcome. `op`/`probe` are per-op and per-probe samples in
  * seconds and milliseconds; `overhead` holds (traced, untraced) samples of
  * the series a traced run alternates on; `layers` holds per-layer counts
  * measured by the workload itself (the tracer adds the span totals).
  */
final case class Result(setupS: Double, op: Seq[Double], probe: Seq[Double],
                        records: Long, windowS: Double, attempted: Long,
                        ok: Long, correct: Boolean,
                        overhead: (Seq[Double], Seq[Double]),
                        layers: Map[String, Double])

/** Seeded text: a fixed syllable vocabulary drawn with a Zipf law, so the
  * same seed gives the same words, documents and probe terms.
  */
final class Words(rng: scala.util.Random, vocab: Int, skew: Double = 1.0) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocab)(i => 1.0 / math.pow(i + 1, skew))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  /** Index of a Zipf-distributed word. */
  def index(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(vocab - 1, if (i >= 0) i else -i - 1)
  }
  def word(): String = Words.word(index())
  def text(minWords: Int, maxWords: Int): String =
    Seq.fill(minWords + rng.nextInt(maxWords - minWords + 1))(word()).mkString(" ")
}

object Words {
  private val onsets = Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
  private val vowels = Array("a", "e", "i", "o", "u")

  /** The `i`-th vocabulary word: two or more consonant-vowel syllables. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    var k = 0
    while (k < 2 || x > 0) {
      sb ++= onsets(x % onsets.length); x /= onsets.length
      sb ++= vowels(x % vowels.length); x /= vowels.length
      k += 1
    }
    sb.toString
  }
}

object Common {
  def persistedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  def timeS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
