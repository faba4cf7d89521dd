package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.dedup.Dedup
import graft.functions.{Text, Vectors}
import graft.operators.Ops

/** Property-based operator laws (scalacheck driven through plain funsuite —
  * each law samples many random inputs through the REAL Spark plans).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), p)
    assert(res.passed, res.status.toString)
  }

  private val tokenGen = Gen.listOfN(12, Gen.oneOf("a", "b", "cc", "dd", "e1", "f"))

  test("law: fingerprint is invariant under token permutation") {
    check(Prop.forAll(tokenGen) { toks =>
      val shuffled = scala.util.Random.shuffle(toks)
      val fps = Seq(toks.mkString(" "), shuffled.mkString(" ")).toDF("text")
        .select(Text.fingerprint(col("text"))).as[String].collect()
      fps(0) == fps(1)
    })
  }

  test("law: batchRows partitions rows into ceil(n/size) batches of bounded size") {
    check(Prop.forAll(Gen.chooseNum(1L, 200L), Gen.chooseNum(1, 50)) { (rows, size) =>
      val sizes = Ops.batchRows(spark.range(rows).toDF("id"), Seq("id"), size)
        .groupBy("batch_id").count().select("count").as[Long].collect()
      sizes.sum == rows && sizes.forall(_ <= size) &&
        sizes.length == ((rows + size - 1) / size)
    })
  }

  test("law: modSample partitions the input into disjoint exhaustive classes") {
    check(Prop.forAll(Gen.chooseNum(1, 7)) { m =>
      val df = spark.range(100).toDF("id")
      val counts = (0 until m).map(r => Ops.modSample(df, "id", m, r).count())
      counts.sum == 100
    })
  }

  test("law: exact dedup conserves rows and keeps the minimum id") {
    val docsGen = Gen.listOfN(20, Gen.zip(Gen.chooseNum(0L, 1000L), Gen.oneOf("x", "y", "z")))
    check(Prop.forAll(docsGen) { docs =>
      val distinctIds = docs.toMap.toSeq // unique ids
      val df = distinctIds.toDF("doc_id", "text")
      val out = Dedup.exact(df, "doc_id", "text")
        .select("keep_id", "n_copies").as[(Long, Long)].collect()
      val byText = distinctIds.groupBy(_._2)
      out.map(_._2).sum == distinctIds.size &&
        out.map(_._1).toSet == byText.values.map(_.map(_._1).min).toSet
    })
  }

  test("law: asOfJoinBucketed equals asOfJoin for any data and bucket width") {
    // random keys/timestamps/widths: the bucketed carry-in path must be
    // indistinguishable from the single-window form, including left rows
    // before any right row and right rows exactly on bucket boundaries
    val rowGen = Gen.listOfN(12,
      Gen.zip(Gen.oneOf("k1", "k2", "k3"), Gen.chooseNum(0L, 40L)))
    check(Prop.forAll(rowGen, rowGen, Gen.chooseNum(1L, 25L)) { (ls, rsRaw, width) =>
      // right rows unique per (key, ts) — the operator contract
      val rs = rsRaw.distinct.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toDouble) }
      val l = ls.zipWithIndex.map { case ((k, t), i) => (k, t, s"tag$i") }
        .toDF("k", "l_ts", "tag")
      val r = rs.toDF("k", "r_ts", "v")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "l_ts", "tag", "r_ts", "v")
          .as[(String, Long, String, Option[Long], Option[Double])].collect().toSet
      canon(Ops.asOfJoin(l, r, Seq("k"), "l_ts", "r_ts", Seq("v"))) ==
        canon(Ops.asOfJoinBucketed(l, r, Seq("k"), "l_ts", "r_ts", Seq("v"), width))
    })
  }

  test("law: sessionizeSegmented equals sessionize for any events, gap, " +
       "and segment width") {
    // small ts domain FORCES collisions, boundary-exact gaps, multi-
    // segment chains, and empty segments; multiple keys share ts values
    val evGen = for {
      n <- Gen.chooseNum(1, 40)
      rows <- Gen.listOfN(n, for {
        k <- Gen.chooseNum(1L, 3L)
        ts <- Gen.chooseNum(0L, 120L)
      } yield (k, ts))
    } yield rows
    check(Prop.forAll(evGen, Gen.chooseNum(1L, 30L), Gen.chooseNum(1L, 50L)) {
      (rows, gap, segment) =>
        val df = rows.toDF("user_id", "ts")
        def canon(d: org.apache.spark.sql.DataFrame) = d
          .select("user_id", "session_id", "session_start", "session_end",
            "n_events")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        canon(Ops.sessionizeSegmented(df, Seq("user_id"), "ts", gap, segment)) ==
          canon(Ops.sessionize(df, Seq("user_id"), "ts", gap))
    })
  }

  test("law: dupClusters pointer-jumped labels equal the plain fixpoint") {
    // random edge sets: path compression must not change the component
    // minimum any member maps to
    val edgeGen = Gen.listOfN(10,
      Gen.zip(Gen.chooseNum(0, 15), Gen.chooseNum(0, 15)))
      .map(_.filter { case (a, b) => a != b })
      .suchThat(_.nonEmpty)
    check(Prop.forAll(edgeGen) { es =>
      val pairs = es.map { case (a, b) => (f"n$a%02d", f"n$b%02d") }
        .toDF("id_a", "id_b")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, String)].collect().toSet
      canon(Dedup.dupClusters(pairs, maxRounds = 64, pointerJump = true)) ==
        canon(Dedup.dupClusters(pairs, maxRounds = 64, pointerJump = false))
    })
  }

  test("law: fdot equals a plain scala double fold") {
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-5.0f, 5.0f))
    check(Prop.forAll(vecGen, vecGen) { (a, b) =>
      val got = Seq((a.toArray, b.toArray)).toDF("a", "b")
        .select(Vectors.fdot(col("a"), col("b"))).as[Double].head()
      val want = a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
      got == want
    })
  }

  test("fdot matches the HOF dot on null elements and length mismatch (both null)") {
    val rows = Seq(
      (Array[java.lang.Float](1.0f, null, 3.0f), Array[java.lang.Float](1.0f, 2.0f, 3.0f)),
      (Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](1.0f, 2.0f, 3.0f)))
    val df = rows.toDF("a", "b")
      .select(Vectors.fdot(col("a"), col("b")).as("f"),
        Vectors.dot(col("a"), col("b")).as("h"))
    df.collect().foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
  }

  test("law: CountInSet equals the HOF filter(isin) count") {
    import org.apache.spark.sql.graftglue.{ColumnBridge, CountInSet}
    val wordsGen = Gen.listOfN(4, Gen.oneOf("a", "b", "cc", "dd"))
    check(Prop.forAll(tokenGen, wordsGen) { (toks, words0) =>
      val words = words0.distinct
      val df = Seq(Tuple1(toks)).toDF("toks")
      val got = df.select(ColumnBridge.column(
        CountInSet(ColumnBridge.expression(col("toks")), words))).as[Long].head()
      val want = df.select(size(filter(col("toks"),
        t => t.isin(words.map(lit): _*))).cast("long")).as[Long].head()
      got == want
    })
  }

  test("law: SqDistLit / QuantizeVec equal their HOF folds bit-for-bit") {
    import org.apache.spark.sql.graftglue.{ColumnBridge, QuantizeVec, SqDistLit}
    import org.apache.spark.sql.types.DoubleType
    val vGen = Gen.listOfN(8, Gen.chooseNum(-100.0, 100.0))
    check(Prop.forAll(vGen, vGen, Gen.oneOf(1.0, 4.0, 1048576.0)) { (v, c, s) =>
      val cv = c.toArray
      val df = Seq(Tuple1(v.toArray)).toDF("v")
      val d = df.select(
        ColumnBridge.column(SqDistLit(ColumnBridge.expression(col("v")), cv)).as("n"),
        aggregate(zip_with(col("v"), typedLit(cv), (a, b) => a - b),
          lit(0.0), (acc, x) => acc + x * x).as("h")).head()
      val q = df.select(
        ColumnBridge.column(QuantizeVec(ColumnBridge.expression(col("v")), s)).as("n"),
        transform(col("v"), x => floor(x.cast(DoubleType) * s).cast(DoubleType)).as("h"))
        .head()
      d.getDouble(0) == d.getDouble(1) &&
        q.getSeq[Double](0) == q.getSeq[Double](1)
    })
  }

  test("law: HyperplaneSig equals the HOF sign-bit form on random planes") {
    val vGen = Gen.listOfN(6, Gen.chooseNum(-5.0f, 5.0f))
    val planesGen = Gen.listOfN(4, Gen.listOfN(6, Gen.chooseNum(-1.0, 1.0)))
    check(Prop.forAll(vGen, planesGen) { (v, ps) =>
      val planes = ps.map(_.toArray).toArray
      val df = Seq(Tuple1(v.toArray)).toDF("v")
      val got = df.select(Vectors.hyperplaneSignature(col("v"), planes))
        .as[Seq[Int]].head()
      val want = planes.toSeq.map { p =>
        val d = v.zip(p).foldLeft(0.0)((acc, q) => acc + q._1.toDouble * q._2)
        if (d >= 0.0) 1 else 0
      }
      got == want
    })
  }

  test("law: UpperTriPairs equals the nested-transform pair expansion") {
    import org.apache.spark.sql.graftglue.{ColumnBridge, UpperTriPairs}
    val msGen = Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0L, 99L)))
    check(Prop.forAll(msGen) { ms =>
      val df = Seq(Tuple1(ms)).toDF("ms")
      val got = df.select(ColumnBridge.column(
          UpperTriPairs(ColumnBridge.expression(col("ms")))))
        .as[(Long, Long)].collect().toSeq
      val want = df.select(explode(flatten(transform(col("ms"), (x, i) =>
          transform(slice(col("ms"), i + 2, size(col("ms"))),
            y => struct(x.as("_1"), y.as("_2")))))))
        .select("col.*").as[(Long, Long)].collect().toSeq
      got == want
    })
  }

  test("law: jaccard output is symmetric-free (id_a < id_b) and within [0,1]") {
    val textGen = Gen.listOfN(6, tokenGen.map(_.mkString(" ")))
    check(Prop.forAll(textGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = Dedup.ngramJaccard(df, "doc_id", "text", k = 2, tau = 0.0)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      out.forall { case (a, b, j) => a < b && j >= 0.0 && j <= 1.0 }
    })
  }

  test("law: native word_shingles equals the HOF transform/slice/array_join chain") {
    val kGen = Gen.chooseNum(1, 4)
    check(Prop.forAll(Gen.listOfN(10, tokenGen.map(_.mkString(" "))), kGen) { (texts, k) =>
      val df = texts.toDF("text").select(Text.tokens(col("text")).as("tk"))
      val n = size(col("tk"))
      val hof = when(n >= k,
        transform(sequence(lit(0), greatest(n - k, lit(0))),
          i => array_join(slice(col("tk"), i + 1, lit(k)), " ")))
        .otherwise(array().cast("array<string>"))
      val rows = df.select(Text.shinglesOf(col("tk"), k).as("native"), hof.as("hof"))
        .as[(Seq[String], Seq[String])].collect()
      rows.forall { case (a, b) => a == b }
    })
  }

  test("law: prefix-filtered jaccard equals exhaustive jaccard at any tau") {
    val textGen = Gen.listOfN(6, tokenGen.map(_.mkString(" ")))
    val tauGen = Gen.oneOf(0.3, 0.5, 0.7, 0.9)
    check(Prop.forAll(textGen, tauGen) { (texts, tau) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.select("id_a", "id_b", "n_inter").as[(Long, Long, Long)].collect().toSet
      canon(Dedup.ngramJaccardPrefix(df, "doc_id", "text", k = 2, tau = tau)) ==
        canon(Dedup.ngramJaccard(df, "doc_id", "text", k = 2, tau = tau))
    })
  }

  test("law: sessions partition events exactly; intra-gaps <= gap < inter-gaps") {
    val tsGen = Gen.listOfN(15, Gen.chooseNum(0L, 500L))
    val gapGen = Gen.chooseNum(1L, 100L)
    check(Prop.forAll(tsGen, gapGen) { (tss, gap) =>
      val df = tss.map(t => (1L, t)).toDF("k", "ts")
      val sess = Ops.sessionize(df, Seq("k"), "ts", gap)
        .select("session_id", "session_start", "session_end", "n_events")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
      val sorted = tss.sorted
      sess.map(_._4).sum == tss.size && // every event in exactly one session
        sess.forall { case (_, s0, e0, _) => s0 <= e0 } &&
        // consecutive sessions separated by more than gap
        sess.sliding(2).forall {
          case Array((_, _, e0, _), (_, s1, _, _)) => s1 - e0 > gap
          case _ => true
        } &&
        sorted.min == sess.head._2 && sorted.max == sess.last._3
    })
  }

  test("law: sessionizeState agrees with window-fn sessionize on random input") {
    val evGen = Gen.listOfN(20, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 300L)))
    check(Prop.forAll(evGen, Gen.chooseNum(1L, 80L)) { (evs, gap) =>
      val df = evs.toDF("k", "ts")
      val viaWindow = Ops.sessionize(df, Seq("k"), "ts", gap)
        .select("k", "session_id", "session_start", "session_end", "n_events")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val viaState = graft.streaming.Streams.sessionizeState(df.as[(Long, Long)], gap)
        .collect().toSet
      viaState == viaWindow
    })
  }

  test("law: packByBudget bins are contiguous and within budget before the last item") {
    val wGen = Gen.listOfN(12, Gen.chooseNum(1L, 40L))
    check(Prop.forAll(wGen, Gen.chooseNum(20L, 100L)) { (ws, budget) =>
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("ord", "w")
      val out = Ops.packByBudget(df, Nil, Seq("ord"), "w", budget)
        .select("ord", "w", "bin_id").as[(Long, Long, Long)].collect().sortBy(_._1)
      // bin ids are non-decreasing in order, and a row starts a new bin only
      // when the previous bin's cumulative weight passed the budget
      out.sliding(2).forall {
        case Array((_, _, b0), (_, _, b1)) => b1 == b0 || b1 > b0
        case _ => true
      } && {
        val byBin = out.groupBy(_._3).toSeq.sortBy(_._1)
        // every bin except possibly the last is "full": adding its first row
        // happened because prior cumsum div budget advanced
        byBin.map(_._2.map(_._2).sum).init.forall(_ > 0) &&
        out.map(_._2).sum == ws.sum
      }
    })
  }

  test("law: hashSplit is a function of the id only (stable across frames)") {
    check(Prop.forAll(Gen.chooseNum(1, 99)) { pct =>
      val a = Ops.hashSplit(spark.range(50).toDF("id"), "id", pct)
        .select("id", "split").as[(Long, String)].collect().toMap
      val b = Ops.hashSplit(spark.range(25, 75).toDF("id"), "id", pct)
        .select("id", "split").as[(Long, String)].collect().toMap
      (a.keySet & b.keySet).forall(k => a(k) == b(k))
    })
  }

  test("law: ChainedReplace equals the folded replace chain on random inputs") {
    import org.apache.spark.sql.graftglue.{ChainedReplace, ColumnBridge}
    // the native loop must be indistinguishable from foldLeft(replace) —
    // same left-to-right non-overlapping semantics per step, same step order
    val symGen = Gen.oneOf("a", "b", "ab", "ba", " a  b ", " ab  a ")
    val strGen = Gen.listOfN(5, symGen).map(_.mkString(" "))
    val stepGen = Gen.listOfN(4, Gen.zip(
      Gen.oneOf(" a  b ", " b  a ", "ab", "a"), Gen.oneOf(" ab ", " ba ", "x", "")))
    check(Prop.forAll(Gen.listOfN(4, strGen), stepGen) { (strs, steps) =>
      // duplicate-heavy input so the memoized variant takes real cache
      // HITS (not just misses) on the same frame
      val df = (strs ++ strs ++ strs).toDF("s")
      val native = df.select(ColumnBridge.column(ChainedReplace(
        ColumnBridge.expression(col("s")), steps))).as[String].collect().toSeq
      // r15 memo path: values must be indistinguishable from the plain
      // loop — including the row-buffer-detachment clone rules (a stale
      // reference would surface as one row's value bleeding into another)
      val memoized = df.select(ColumnBridge.column(ChainedReplace(
        ColumnBridge.expression(col("s")), steps, memoSize = 4)))
        .as[String].collect().toSeq
      val folded = df.select(steps.foldLeft(col("s")) { case (acc, (p, r)) =>
        replace(acc, lit(p), lit(r)) }).as[String].collect().toSeq
      native == folded && memoized == folded
    })
  }

  test("law: InterleaveBits is injective and deinterleaves back to its inputs") {
    import org.apache.spark.sql.graftglue.{ColumnBridge, InterleaveBits}
    // distinct (x, y) bin pairs must map to distinct Morton keys (file
    // ranges would otherwise merge cells) and every input bit must be
    // recoverable from the key (the interleave loses nothing ≤ 63 bits)
    val binGen = Gen.chooseNum(0L, 255L)
    check(Prop.forAll(Gen.listOfN(6, Gen.zip(binGen, binGen))) { pairs =>
      val zs = pairs.toDF("x", "y")
        .withColumn("z", ColumnBridge.column(InterleaveBits(
          ColumnBridge.expression(array(col("x"), col("y"))), 8)))
        .select("x", "y", "z").as[(Long, Long, Long)].collect()
      val injective = zs.map(_._3).distinct.length == pairs.distinct.length
      val roundtrips = zs.forall { case (x, y, z) =>
        val dx = (0 until 8).map(i => ((z >>> (2 * i)) & 1L) << i).sum
        val dy = (0 until 8).map(i => ((z >>> (2 * i + 1)) & 1L) << i).sum
        dx == x && dy == y
      }
      injective && roundtrips
    })
  }

  test("law: the reoriented probe equals the naive delta-semi-index probe") {
    // r8 flipped incrementalNearDup's join so the index streams and the
    // delta broadcasts; the law pins the two-semi-join composition to the
    // one-semi-join definition on random corpora and deltas — a doc is
    // dup_of_corpus iff ANY of its band keys appears in the index.
    val docGen = Gen.listOfN(16, Gen.zip(Gen.chooseNum(0L, 30L),
      Gen.listOfN(6, Gen.oneOf("w1", "w2", "w3", "w4", "w5", "w6", "w7", "w8"))))
    check(Prop.forAll(docGen, Gen.chooseNum(2, 5)) { (rows, mod) =>
      val docs = rows.map { case (i, ts) => (i, ts.mkString(" ")) }
        .toDF("doc_id", "text").dropDuplicates("doc_id")
      val corpus = docs.filter(col("doc_id") % mod =!= 0)
      val delta = docs.filter(col("doc_id") % mod === 0)
      val index = Dedup.bandKeysOf(corpus, "doc_id", "text")
      val got = Dedup.incrementalNearDup(delta, "doc_id", "text", index)
        .as[(Long, Boolean)].collect().toMap
      val nk = Dedup.bandKeysOf(delta, "doc_id", "text")
      val naive = nk.join(index.select("band", "band_key"),
          Seq("band", "band_key"), "left_semi")
        .select("id").as[Long].collect().toSet
      val deltaIds = delta.select("doc_id").as[Long].collect().toSet
      got.keySet == deltaIds && got.forall { case (id, v) => v == naive(id) }
    })
  }

  test("law: KmvSet(k) equals distinct-sorted-take(k) at any partitioning") {
    import org.apache.spark.sql.graftglue.{ColumnBridge, KmvSet}
    val valsGen = Gen.listOfN(60, Gen.chooseNum(0L, 40L))
    check(Prop.forAll(valsGen, Gen.chooseNum(1, 12), Gen.chooseNum(1, 8)) {
      (vals, k, parts) =>
        val got = vals.toDF("h").repartition(parts)
          .agg(ColumnBridge.column(KmvSet(
            ColumnBridge.expression(col("h")), k).toAggregateExpression()))
          .as[Seq[Long]].head()
        got == vals.distinct.sorted.take(k)
    })
  }

  test("law: NearestCenter agrees with MinDistToSet on the min distance " +
       "and with exhaustive argmin on the center id") {
    import org.apache.spark.sql.graftglue.{ColumnBridge, MinDistToSet, NearestCenter}
    val vecGen = Gen.listOfN(4, Gen.chooseNum(-8, 8).map(_.toDouble))
    val centsGen = Gen.nonEmptyListOf(vecGen).map(_.take(6))
    check(Prop.forAll(vecGen, centsGen) { (v, cents) =>
      val cids = cents.indices.toArray
      val mat = cents.map(_.toArray).toArray
      val row = Seq(Tuple1(v)).toDF("v")
        .select(
          ColumnBridge.column(NearestCenter(
            ColumnBridge.expression(col("v")), cids, mat)).as("nc"),
          ColumnBridge.column(MinDistToSet(
            ColumnBridge.expression(col("v")), mat)).as("md"))
        .selectExpr("nc.dist2", "nc.cid", "md").collect().head
      val dists = cents.map(c => v.zip(c).map { case (a, b) =>
        (a - b) * (a - b) }.sum)
      val want = dists.zipWithIndex.minBy { case (d, i) => (d, i) }
      row.getDouble(0) == want._1 && row.getInt(1) == want._2 &&
        row.getDouble(2) == row.getDouble(0)
    })
  }

  test("law: MaxSimScore equals the scala fold, is invariant under " +
       "doc-row permutation, and is additive over query rows") {
    import org.apache.spark.sql.graftglue.{ColumnBridge, MaxSimScore}
    // integral components: every dot/max/sum is exact, so == is exact
    val rowGen = Gen.listOfN(5, Gen.chooseNum(-9, 9).map(_.toDouble))
    val matGen = Gen.listOfN(4, rowGen)
    def score(qm: List[List[Double]], dm: List[List[Double]]): Double =
      Seq((qm, dm)).toDF("q", "d")
        .select(ColumnBridge.column(MaxSimScore(
          ColumnBridge.expression(col("q")),
          ColumnBridge.expression(col("d")))))
        .as[Double].head()
    check(Prop.forAll(matGen, matGen) { (q, d) =>
      val got = score(q, d)
      val want = q.map(qr =>
        d.map(dr => qr.zip(dr).map { case (a, b) => a * b }.sum).max).sum
      // max over doc tokens ⇒ doc-row order cannot matter; Σ over query
      // tokens ⇒ the score decomposes over any query-row split
      got == want && score(q, d.reverse) == want &&
        score(q.take(2), d) + score(q.drop(2), d) == got
    })
  }

  test("law: SumVecs equals per-component scala sums; ragged input is null") {
    import org.apache.spark.sql.graftglue.{ColumnBridge, SumVecs}
    val rowGen = Gen.listOfN(5, Gen.chooseNum(-9, 9).map(_.toDouble))
    val matGen = Gen.listOfN(4, rowGen)
    check(Prop.forAll(matGen) { m =>
      val got = Seq(Tuple1(m)).toDF("m")
        .select(ColumnBridge.column(SumVecs(ColumnBridge.expression(col("m")))))
        .as[Seq[Double]].head()
      val want = m.transpose.map(_.sum)
      got == want
    })
    val ragged = Seq(Tuple1(Seq(Seq(1.0, 2.0), Seq(3.0)))).toDF("m")
      .select(ColumnBridge.column(SumVecs(ColumnBridge.expression(col("m"))))
        .as("s"))
    assert(ragged.filter(col("s").isNull).count() == 1,
      "a ragged matrix must pool to null, not a partial sum")
  }

  test("law: pageRank danglingRedistribute conserves mass up to the " +
       "deterministic floor losses on ANY graph; the default only loses") {
    val edgeGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0, 8), Gen.chooseNum(0, 8)))
      .map(_.take(12))
    check(Prop.forAll(edgeGen, Gen.chooseNum(1, 4)) { (es, iters) =>
      val edges = es.map { case (a, b) => (s"n$a", s"n$b") }
        .toDF("src_id", "dst_id")
      val n = es.flatMap { case (a, b) => Seq(a, b) }.distinct.size.toLong
      val nEdges = es.size.toLong
      val tot = graft.graph.Graph.pageRank(edges, iters,
          danglingRedistribute = true)
        .agg(sum("rank")).as[Long].head()
      val totDropped = graft.graph.Graph.pageRank(edges, iters)
        .agg(sum("rank")).as[Long].head()
      // per iteration the only mass leaks are floors: rank div od across
      // a node's edges (≤ od−1 ≤ edges total), (85·x) div 100 per node
      // (< 1 each), and the even-share D div N (≤ N−1) — so cumulative
      // loss is bounded by iters·(E + 2N), integer-exactly, while the
      // drop-dangling default loses whole sink ranks (strictly more on
      // any graph that HAS a dangling node)
      val loss = n * 1000000L - tot
      loss >= 0 && loss <= iters * (nEdges + 2 * n) && totDropped <= tot
    })
  }

  test("law: lexIndexDelta maintained ≡ writeLexIndex rebuilt over the " +
       "maintained membership, for ANY stored/retired/admitted sets") {
    import graft.similarity.Search
    val vocab = Gen.oneOf("spark", "merge", "dup", "rare", "common", "batch")
    val docGen = Gen.zip(Gen.chooseNum(0L, 24L),
      Gen.nonEmptyListOf(vocab).map(_.take(6).mkString(" ")))
    val caseGen = Gen.zip(
      Gen.nonEmptyListOf(docGen).map(_.take(10).distinctBy(_._1)),
      Gen.listOf(docGen).map(_.take(4).distinctBy(_._1)),
      Gen.listOf(Gen.chooseNum(0L, 24L)).map(_.take(4).distinct))
    val params = SCTest.Parameters.default.withMinSuccessfulTests(4)
    val res = SCTest.check(params, Prop.forAll(caseGen) {
      case (stored, admitted, retiredBase) =>
        withTempDir("lexlaw") { dir => withTempDir("lexlaw2") { dir2 =>
          Search.writeLexIndex(stored.toDF("doc_id", "text"), "doc_id", "text",
            dir, buckets = 4)
          // the documented snapshotDiff contract: a CHANGED doc appears in
          // BOTH sets (retired = removed ∪ changed, admitted = added ∪
          // changed) — so every admitted id that might already be stored
          // rides in the retire set too (retiring a never-stored id no-ops)
          val admittedIds = admitted.map(_._1).toSet
          val retired = (retiredBase ++ admittedIds).distinct
          val (posts, _, _, _) = Search.lexIndexDelta(
            admitted.toDF("doc_id", "text"), "doc_id", "text", dir,
            retired.toDF("id"))
          // membership law: (stored − retired) ∪ admitted
          val membership = stored.filterNot(d =>
            retired.contains(d._1)) ++ admitted
          Search.writeLexIndex(membership.toDF("doc_id", "text"),
            "doc_id", "text", dir2, buckets = 4)
          def rows(df: org.apache.spark.sql.DataFrame) =
            df.select(col("id"), col("dl"), col("term"), col("tf"),
                col("bucket").cast("long"))
              .as[(Long, Long, String, Long, Long)].collect().toSet
          val ok = rows(posts) ==
            rows(graft.streaming.Streams.readIndex(spark, s"$dir2/postings"))
          graft.Caching.drain()
          ok
        }}
    })
    assert(res.passed, res.status.toString)
  }
}
