package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Ops, Sinks}
import graft.sources.{Sources, Tables}
import graft.functions.Text
import graft.dedup.Dedup
import graft.similarity.{Ann, Search}
import graft.json.{MtlParser, TreeWalk}
import graft.multimodal.Multimodal
import graft.Caching.TrackedSyntax

/** Shared DuckDB oracle fragments behind the SparkEntry oracle
  * registries — kept in one object so Spark/DuckDB stay in sync
  * (see [[EntryFixtures]] for the split rationale).
  */
object OracleFixtures {
  import EntryFixtures._

  /** DuckDB replay of [[graft.functions.Text.tokenStats]] — ONE spelling,
    * shared by q_tokens and the q_corpus_report rollup (the per-doc
    * integers the report sums are exactly these).
    */
  private[graft] val tokenStatsOracle: String =
    s"""SELECT doc_id,
       | CAST(length(text) AS BIGINT) AS n_chars,
       | CAST(len($toksSql) AS BIGINT) AS n_ws_tokens,
       | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish_tokens
       |FROM documents""".stripMargin

  // shared by q_substring_dedup and its streaming twin: sliding 16-token
  // window ownership + gaps-and-islands maximal-span merge, per-doc rollup
  private[graft] lazy val substringDedupOracle: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |base AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks),
       |wins0 AS (SELECT doc_id, tk, unnest(range(0, len(tk) - 15)) AS start
       |       FROM base WHERE n_tokens >= 16),
       |wins AS (SELECT doc_id, CAST(start AS BIGINT) AS start,
       |       md5(array_to_string(list_slice(tk, CAST(start + 1 AS INT), CAST(start + 16 AS INT)), ' ')) AS h
       |       FROM wins0),
       |o AS (SELECT doc_id, start,
       |      row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn FROM wins),
       |d AS (SELECT doc_id, start, start + 16 AS e FROM o WHERE rn > 1),
       |isl AS (SELECT doc_id, start, e,
       |        max(e) OVER (PARTITION BY doc_id ORDER BY start
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM d),
       |g AS (SELECT doc_id, start, e,
       |      SUM(CASE WHEN pmax IS NULL OR start > pmax THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY doc_id ORDER BY start
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle FROM isl),
       |sp AS (SELECT doc_id, isle, MIN(start) AS s, MAX(e) AS e FROM g GROUP BY 1, 2),
       |agg AS (SELECT doc_id, COUNT(*) AS n_dup_spans, CAST(SUM(e - s) AS BIGINT) AS dup_tokens
       |        FROM sp GROUP BY 1)
       |SELECT b.doc_id, b.n_tokens,
       |  CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       |  CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  CASE WHEN b.n_tokens > 0
       |       THEN CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
       |       ELSE 0.0 END AS dup_frac
       |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Heavy-hitters oracle — shared by q_heavy_hitters (sketch candidates +
    * exact verify ≡ the full GROUP BY) and its streaming twin (running
    * counts compact exactly; the threshold applies at drain).
    */
  private[graft] lazy val heavyHittersOracle: String =
    s"""WITH tk AS (SELECT unnest($toksSql) AS value FROM documents),
       |n AS (SELECT COUNT(*) AS n FROM tk)
       |SELECT value, COUNT(*) AS cnt FROM tk CROSS JOIN n
       |GROUP BY value, n.n HAVING COUNT(*) * 1000 > n.n * 33""".stripMargin

  /** Winnowed-dedup oracle — shared by q_winnow and its streaming twin
    * (per-print min-(id, pos) ownership commutes, so the drained changelog
    * compacts to the batch answer exactly).
    */
  private[graft] lazy val winnowOracle: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |h AS (SELECT doc_id, list_transform(range(0, len(tk) - 8 + 1),
       |      i -> ('0x' || substring(md5(array_to_string(list_slice(tk, CAST(i + 1 AS INT), CAST(i + 8 AS INT)), ' ')), 1, 15))::BIGINT) AS hs
       |      FROM toks WHERE len(tk) >= 8),
       |sel AS (SELECT doc_id, hs,
       |      list_distinct(list_transform(range(0, greatest(len(hs) - 4, 0) + 1),
       |        j -> j + least(4, len(hs)) - list_position(
       |               list_reverse(list_slice(hs, CAST(j + 1 AS INT), CAST(j + least(4, len(hs)) AS INT))),
       |               list_min(list_slice(hs, CAST(j + 1 AS INT), CAST(j + least(4, len(hs)) AS INT)))))) AS pos
       |      FROM h),
       |pr0 AS (SELECT doc_id, hs, unnest(pos) AS p FROM sel),
       |pr AS (SELECT doc_id, CAST(p AS BIGINT) AS pos, hs[CAST(p + 1 AS INT)] AS print FROM pr0),
       |o AS (SELECT doc_id, pos,
       |      row_number() OVER (PARTITION BY print ORDER BY doc_id, pos) AS rn FROM pr),
       |agg AS (SELECT doc_id, COUNT(*) AS n_prints,
       |        CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_prints
       |        FROM o GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(COALESCE(a.n_prints, 0) AS BIGINT) AS n_prints,
       |  CAST(COALESCE(a.n_dup_prints, 0) AS BIGINT) AS n_dup_prints,
       |  CASE WHEN COALESCE(a.n_prints, 0) > 0
       |       THEN CAST(a.n_dup_prints AS DOUBLE) / CAST(a.n_prints AS DOUBLE)
       |       ELSE 0.0 END AS dup_frac
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** G49 corpus-overlap oracle — shared by the batch operator and its
    * streaming twin (KMV mergeability ⇒ the drained sketch is the batch
    * sketch). The k smallest DISTINCT shingle hashes per side are a pure
    * function of the shingle sets, so DISTINCT/ORDER BY/LIMIT reproduces
    * the bounded KmvSet aggregate bit-for-bit.
    */
  private[graft] lazy val corpusOverlapOracle: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |sh AS (SELECT doc_id, unnest(list_transform(range(0, len(tk) - 4),
       |       i -> array_to_string(list_slice(tk, CAST(i + 1 AS INT), CAST(i + 5 AS INT)), ' '))) AS s
       |       FROM toks WHERE len(tk) >= 5),
       |h AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM sh),
       |ka AS (SELECT DISTINCT h FROM h WHERE doc_id % 3 <> 0 ORDER BY h LIMIT 256),
       |kb AS (SELECT DISTINCT h FROM h WHERE doc_id % 3 = 0 ORDER BY h LIMIT 256),
       |ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) u ORDER BY h LIMIT 256),
       |m AS (SELECT
       |  (SELECT COUNT(*) FROM ku) AS k_used,
       |  (SELECT COUNT(*) FROM ku k JOIN ka a ON k.h = a.h) AS m_a,
       |  (SELECT COUNT(*) FROM ku k JOIN kb b ON k.h = b.h) AS m_b,
       |  (SELECT COUNT(*) FROM ku k JOIN ka a ON k.h = a.h JOIN kb b ON k.h = b.h) AS m_both,
       |  (SELECT MAX(h) FROM ku) AS vk)
       |SELECT CAST(k_used AS BIGINT) AS k_used,
       |  CAST(m_both AS BIGINT) AS m_both,
       |  CAST(m_a AS BIGINT) AS m_a,
       |  CAST(m_b AS BIGINT) AS m_b,
       |  CAST(CASE WHEN k_used > 0 THEN m_both * 1000 // k_used ELSE 0 END AS BIGINT) AS jaccard_permille,
       |  CAST(CASE WHEN m_a > 0 THEN m_both * 1000 // m_a ELSE 0 END AS BIGINT) AS containment_a_permille,
       |  CAST(CASE WHEN m_b > 0 THEN m_both * 1000 // m_b ELSE 0 END AS BIGINT) AS containment_b_permille,
       |  CAST(CASE WHEN k_used < 256 THEN k_used
       |       ELSE CAST(floor((255.0 * 1152921504606846976.0) / CAST(vk AS DOUBLE)) AS BIGINT) END AS BIGINT) AS d_union_est
       |FROM m""".stripMargin

  /** Decontamination oracle — shared verbatim by q_decontaminate, its Bloom
    * scale path (no false negatives + exact verify ⇒ identical output), and
    * the streaming twin (per-doc counts depend only on doc + static bench).
    */
  private[graft] lazy val decontaminateOracle: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |csh AS (SELECT DISTINCT doc_id,
       |        unnest(list_transform(range(0, len(tk) - 4),
       |               i -> array_to_string(list_slice(tk, i + 1, i + 5), ' '))) AS shingle
       |        FROM toks WHERE len(tk) >= 5),
       |bsh AS (SELECT DISTINCT shingle FROM csh WHERE doc_id % 97 = 0),
       |hits AS (SELECT c.doc_id, COUNT(*) AS n_hits
       |         FROM csh c JOIN bsh USING (shingle) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
       |       COALESCE(h.n_hits, 0) >= 1 AS contaminated
       |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin
  private[graft] def stopIn(words: Seq[String]) = words.map(w => s"'$w'").mkString("(", ", ", ")")
  private[graft] def langScore(words: Seq[String]) =
    s"CAST(len(list_filter(tk, t -> t IN ${stopIn(words)})) AS DOUBLE) / " +
      "CAST(greatest(len(tk), 1) AS DOUBLE)"

  private[graft] val simhashOracle: String = {
    val sums = (0 until 60).map(b =>
      s"SUM(CASE WHEN (h & ${1L << b}) <> 0 THEN 1 ELSE 0 END) AS v$b").mkString(", ")
    val fp = (0 until 60).map(b =>
      s"(CASE WHEN v$b * 2 > n THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM documents),
       |h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM t),
       |v AS (SELECT doc_id, COUNT(*) AS n, $sums FROM h GROUP BY doc_id)
       |SELECT doc_id AS id, CAST($fp AS BIGINT) AS simhash FROM v""".stripMargin
  }

  /** DuckDB replay of BATCHED BPE training (q_bpe_merges): the CTE chain
    * unrolls `bpeRounds` job rounds of `bpeMergesPerRound` merges each —
    * pair counts from the padded-string segmentation, then the greedy
    * top-R SYMBOL-DISJOINT selection down the (n DESC, l, r) order (each
    * slot's scalar CTE excludes every symbol used by earlier slots of the
    * same round), then the R literal replaces nested in selection order —
    * exactly the rounds [[graft.functions.Bpe.train]] runs with
    * mergesPerRound = R and maxRounds = `bpeRounds`. Per round, the
    * greedy SYMBOL-DISJOINT selection is ONE recursive CTE (each step a
    * LATERAL argmin over the pair table excluding the accumulated `used`
    * symbol list — no candidate left ends the recursion, mirroring a
    * short round), and the R replaces apply through a second recursive
    * CTE stepping slot by slot (a LEFT JOIN per step so an empty slot is
    * a no-op). Both the SQL text and its expression depth are LINEAR in
    * rounds and CONSTANT in R — the r5 form inlined every earlier slot's
    * exclusion into every later one and nested all R replaces in one
    * expression, which at R=32 blew DuckDB's default 1000 expression-depth
    * limit and cost 78 s; this form binds in default config and runs in
    * ~2 s. Corpus = customer names (the richest vocabulary in the
    * testdata — 268 merges at sf0.01; documents.text exhausts at 89
    * merges). `bpeRounds` × `bpeMergesPerRound` must match the q_bpe_*
    * entries.
    */
  private[graft] val bpeRounds = 17
  private[graft] val bpeMergesPerRound = 32
  private[graft] val bpeVocabCtes: String = {
    val R = bpeMergesPerRound
    val sb = new StringBuilder
    sb.append(
      s"""w AS MATERIALIZED (SELECT tok AS word, COUNT(*) AS cnt
         |      FROM (SELECT unnest(list_filter(string_split(c_name, ' '), t -> t <> '')) AS tok
         |            FROM customer) GROUP BY 1),
         |v0 AS MATERIALIZED (SELECT word, cnt,
         |       ' ' || array_to_string(list_transform(range(1, len(word) + 1),
         |                i -> substring(word, i, 1)), '  ') || ' ' AS syms
         |       FROM w)""".stripMargin)
    for (i <- 1 to bpeRounds) {
      sb.append(
        s""",
           |p$i AS MATERIALIZED (SELECT p.l AS l, p.r AS r, SUM(cnt) AS n FROM (
           |        SELECT cnt, unnest(list_transform(range(0, len(s) - 1),
           |               i -> {'l': s[i + 1], 'r': s[i + 2]})) AS p
           |        FROM (SELECT cnt, string_split(trim(syms), '  ') AS s FROM v${i - 1})
           |       ) GROUP BY 1, 2),
           |sel$i AS MATERIALIZED (
           |  WITH RECURSIVE g(slot, l, r, n, used) AS (
           |    SELECT 1, l, r, n, [l, r]
           |    FROM (SELECT * FROM p$i ORDER BY n DESC, l, r LIMIT 1)
           |    UNION ALL
           |    SELECT g.slot + 1, c.l, c.r, c.n, g.used || [c.l, c.r]
           |    FROM g, LATERAL (SELECT l, r, n FROM p$i
           |             WHERE NOT list_contains(g.used, l)
           |               AND NOT list_contains(g.used, r)
           |             ORDER BY n DESC, l, r LIMIT 1) c
           |    WHERE g.slot < $R
           |  ) SELECT slot, l, r, n FROM g),
           |v$i AS MATERIALIZED (
           |  WITH RECURSIVE a(j, word, cnt, syms) AS (
           |    SELECT 0, word, cnt, syms FROM v${i - 1}
           |    UNION ALL
           |    SELECT a.j + 1, a.word, a.cnt,
           |           CASE WHEN s.l IS NULL THEN a.syms
           |                ELSE replace(a.syms, ' ' || s.l || '  ' || s.r || ' ',
           |                             ' ' || s.l || s.r || ' ') END
           |    FROM a LEFT JOIN sel$i s ON s.slot = a.j + 1
           |    WHERE a.j < $R
           |  ) SELECT word, cnt, syms FROM a WHERE j = $R)""".stripMargin)
    }
    sb.toString
  }
  private[graft] val bpeMergesOracle: String = {
    val slots = (1 to bpeRounds)
      .map(i => s"SELECT $i AS round, slot, l, r, n FROM sel$i")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE $bpeVocabCtes
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY round, slot) AS BIGINT) AS rank,
       |       l, r, l || r AS merged, CAST(n AS BIGINT) AS n
       |FROM ($slots)""".stripMargin
  }
  private[graft] val bpeSegmentOracle: String =
    s"""WITH RECURSIVE $bpeVocabCtes,
       |tok AS (SELECT c_custkey, unnest(list_filter(string_split(c_name, ' '), t -> t <> '')) AS token
       |        FROM customer)
       |SELECT c_custkey, token,
       |  array_to_string(string_split(trim(v.syms), '  '), ' ') AS syms_str,
       |  CAST(len(string_split(trim(v.syms), '  ')) AS BIGINT) AS n_syms
       |FROM tok JOIN v$bpeRounds v ON v.word = tok.token""".stripMargin

  /** DuckDB replay of batch-perceptron training (q_train_classifier): a
    * fixed-epoch unroll — each epoch derives integer margins under the
    * previous weights (LEFT joins + COALESCE so zero-feature docs and
    * never-updated buckets read 0), the misclassified set (y·(margin+bias)
    * ≤ 0 — the zero cold start makes epoch 1 update on every doc), and the
    * bucket/bias updates. All BIGINT, so the replay is bit-exact.
    */
  private[graft] val perceptronEpochs = 3
  private[graft] val perceptronDim = 512
  private[graft] val trainClassifierOracle: String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |f AS MATERIALIZED (SELECT doc_id,
         |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % $perceptronDim AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         |yy AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM documents),
         |w0 AS (SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS w FROM f),
         |b0 AS (SELECT CAST(0 AS BIGINT) AS b)""".stripMargin)
    for (i <- 1 to perceptronEpochs) {
      sb.append(
        s""",
           |m$i AS MATERIALIZED (SELECT doc_id, SUM(tf * COALESCE(w, 0)) AS m
           |     FROM f LEFT JOIN w${i - 1} USING (bucket) GROUP BY doc_id),
           |mis$i AS MATERIALIZED (SELECT yy.doc_id, yy.y FROM yy
           |     LEFT JOIN m$i USING (doc_id)
           |     WHERE y * (COALESCE(m, 0) + (SELECT b FROM b${i - 1})) <= 0),
           |u$i AS MATERIALIZED (SELECT bucket, CAST(SUM(y * tf) AS BIGINT) AS du
           |     FROM f JOIN mis$i USING (doc_id) GROUP BY bucket),
           |w$i AS MATERIALIZED (SELECT bucket, CAST(w + COALESCE(du, 0) AS BIGINT) AS w
           |     FROM w${i - 1} LEFT JOIN u$i USING (bucket)),
           |b$i AS (SELECT CAST((SELECT b FROM b${i - 1}) +
           |     COALESCE((SELECT CAST(SUM(y) AS BIGINT) FROM mis$i), 0) AS BIGINT) AS b)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT bucket, w AS weight FROM w$perceptronEpochs
         |UNION ALL SELECT CAST(-1 AS BIGINT) AS bucket, b AS weight FROM b$perceptronEpochs""".stripMargin)
    sb.toString
  }

  /** Shared SQL scaffolding for every minhash/LSH oracle: the 16
    * per-seed MIN(md5(seed:token)) aggregates and the 4-band md5 band-key
    * CASE — ONE definition so the banding scheme cannot silently drift
    * between oracles (7 copies before r7).
    */
  private[graft] val minhashMinsSql: String =
    (0 until 16).map(s => s"MIN(md5('$s:' || tok)) AS h$s").mkString(", ")
  private[graft] val bandKeySql: String = (0 until 4).map { b =>
    val cols = (b * 4 until b * 4 + 4).map(i => s"h$i").mkString(" || '|' || ")
    s"WHEN ${b} THEN md5($cols)"
  }.mkString(" ")

  /** DuckDB mirror of minhash(16) → 4-band LSH buckets (2..256) → in-bucket
    * pairs. Same md5 band keys; same maxBucket cap as q_lsh_pairs.
    */
  private[graft] val lshPairsOracle: String = {
    val mins = minhashMinsSql; val bandKey = bandKeySql
    s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM documents),
       |s AS (SELECT doc_id, $mins FROM t GROUP BY doc_id),
       |banded AS (SELECT doc_id, b.band,
       |           CASE b.band $bandKey END AS band_key
       |           FROM s, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |buckets AS (SELECT band, band_key, list_sort(list(doc_id)) AS ids
       |            FROM banded GROUP BY 1, 2
       |            HAVING COUNT(*) BETWEEN 2 AND 256)
       |SELECT DISTINCT x.a AS id_a, y.c AS id_b
       |FROM buckets, unnest(ids) x(a), unnest(ids) y(c) WHERE x.a < y.c""".stripMargin
  }

  /** Soft-dedup weights (q_soft_dedup and its streaming twin): the
    * [[lshPairsOracle]] pair list closed by the recursive CTE, cluster
    * sizes rolled up, every doc kept with weight_permille = 1000 // n.
    */
  private[graft] val softDedupOracle: String =
    s"""WITH RECURSIVE lp AS (SELECT id_a, id_b FROM (
       |$lshPairsOracle) q),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM lp
       |          UNION SELECT id_b, id_a FROM lp),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |canon AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical
       |          FROM reach GROUP BY src),
       |sizes AS (SELECT canonical, COUNT(*) AS n FROM canon GROUP BY canonical)
       |SELECT d.doc_id,
       |  COALESCE(c.canonical, d.doc_id) AS cluster,
       |  CAST(COALESCE(s.n, 1) AS BIGINT) AS n_copies,
       |  CAST(1000 // COALESCE(s.n, 1) AS BIGINT) AS weight_permille
       |FROM documents d
       |LEFT JOIN canon c USING (doc_id)
       |LEFT JOIN sizes s ON s.canonical = c.canonical""".stripMargin

  /** DuckDB mirror of the incremental near-dedup probe: the same
    * minhash(16) → 4-band md5 band keys as [[lshPairsOracle]], built
    * separately over the corpus (doc_id % 13 <> 5) and the delta
    * (doc_id % 13 = 5); a delta doc is dup_of_corpus iff any band key
    * joins an indexed key. No bucket cap on either side (the index is a
    * plain key set — [[graft.dedup.Dedup.bandKeysOf]] doesn't cap).
    */
  private[graft] val incrementalNearDupOracle: String = {
    val mins = minhashMinsSql; val bandKey = bandKeySql
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 5),
       |fresh AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 = 5),
       |ct AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM corpus),
       |cs AS (SELECT doc_id, $mins FROM ct GROUP BY doc_id),
       |cb AS (SELECT DISTINCT b.band, CASE b.band $bandKey END AS band_key
       |       FROM cs, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |ft AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM fresh),
       |fs AS (SELECT doc_id, $mins FROM ft GROUP BY doc_id),
       |fb AS (SELECT doc_id, b.band, CASE b.band $bandKey END AS band_key
       |       FROM fs, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |hit AS (SELECT DISTINCT fb.doc_id FROM fb JOIN cb USING (band, band_key))
       |SELECT f.doc_id AS id, (h.doc_id IS NOT NULL) AS dup_of_corpus
       |FROM fresh f LEFT JOIN hit h ON f.doc_id = h.doc_id""".stripMargin
  }

  /** DuckDB mirror of the LSH-index MAINTENANCE identity (q_index_delta):
    * the Spark side computes the maintained index (retire removed/changed,
    * append admitted) from the gen-A index; the oracle computes the gen-B
    * index FROM SCRATCH — the same minhash(16) → 4-band md5 keys as
    * [[lshPairsOracle]] over the full `documents` table. Equality of the
    * two is `Dedup.indexDelta`'s contract, so the oracle checks the
    * maintenance algebra itself, not a replay of the same arithmetic.
    */
  private[graft] val indexDeltaOracle: String = {
    val mins = minhashMinsSql; val bandKey = bandKeySql
    s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM documents),
       |s AS (SELECT doc_id, $mins FROM t GROUP BY doc_id)
       |SELECT doc_id AS id, b.band, CASE b.band $bandKey END AS band_key
       |FROM s, (SELECT unnest([0, 1, 2, 3]) AS band) b""".stripMargin
  }

  /** DuckDB mirror of the LSH recall report (q_lsh_recall): exact-Jaccard
    * ground truth (the q_jaccard shingle replay at tau=0.5) vs UNCAPPED
    * banded candidates (the q_lsh_pairs replay without the bucket cap);
    * counts and the integer permille are engine-exact.
    */
  private[graft] val lshRecallOracle: String = {
    val mins = minhashMinsSql; val bandKey = bandKeySql
    s"""WITH smp AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
       |toks AS (SELECT doc_id, $toksSql AS tk FROM smp),
       |sh AS (SELECT DISTINCT doc_id,
       |       unnest(list_transform(range(0, len(tk) - 2),
       |              i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))) AS shingle
       |       FROM toks WHERE len(tk) >= 3),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |it AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
       |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |truth AS (SELECT id_a, id_b FROM it
       |          JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |          WHERE CAST(n_inter AS DOUBLE) /
       |                CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5),
       |mt AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM smp),
       |ms AS (SELECT doc_id, $mins FROM mt GROUP BY doc_id),
       |banded AS (SELECT doc_id, b.band, CASE b.band $bandKey END AS band_key
       |           FROM ms, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |buckets AS (SELECT band, band_key, list_sort(list(doc_id)) AS ids
       |            FROM banded GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |cand AS (SELECT DISTINCT x.a AS id_a, y.c AS id_b
       |         FROM buckets, unnest(ids) x(a), unnest(ids) y(c) WHERE x.a < y.c),
       |hit AS (SELECT t.id_a, t.id_b FROM truth t JOIN cand c
       |        ON t.id_a = c.id_a AND t.id_b = c.id_b)
       |SELECT (SELECT COUNT(*) FROM truth) AS n_true,
       |       (SELECT COUNT(*) FROM cand) AS n_candidates,
       |       (SELECT COUNT(*) FROM hit) AS n_hit,
       |       CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 0
       |            ELSE 1000 * (SELECT COUNT(*) FROM hit) //
       |                 (SELECT COUNT(*) FROM truth) END AS recall_permille""".stripMargin
  }

  /** DuckDB mirror of the STREAMING index-maintenance loop
    * (q_stream_idxmaintain). The streamed delta is the uncapped
    * keepCanonical survivors of doc_id%13=5 — pairwise band-disjoint, so
    * admission is batch-split independent and replayable in one SQL pass:
    * delta canonical = the recursive-CTE component replay (as in
    * q_neardup_pipeline, restricted to the delta, no bucket cap);
    * a survivor is admitted iff NO band key joins the corpus index;
    * final index = corpus band keys ∪ admitted survivors' band keys.
    */
  private[graft] val streamIdxMaintainOracle: String = {
    val mins = minhashMinsSql; val bandKey = bandKeySql
    s"""WITH RECURSIVE delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 = 5),
       |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 5),
       |dt AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM delta),
       |ds AS (SELECT doc_id, $mins FROM dt GROUP BY doc_id),
       |db AS (SELECT doc_id, b.band, CASE b.band $bandKey END AS band_key
       |       FROM ds, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |pairs AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b FROM db x
       |          JOIN db y ON x.band = y.band AND x.band_key = y.band_key
       |          AND x.doc_id < y.doc_id),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(src, dst) AS (SELECT src, dst FROM edges UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |canon AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical
       |          FROM reach GROUP BY src),
       |surv AS (SELECT d.doc_id FROM delta d LEFT JOIN canon c USING (doc_id)
       |         WHERE c.canonical IS NULL OR c.canonical = d.doc_id),
       |ct AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM corpus),
       |cs AS (SELECT doc_id, $mins FROM ct GROUP BY doc_id),
       |cb AS (SELECT doc_id, b.band, CASE b.band $bandKey END AS band_key
       |       FROM cs, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |hit AS (SELECT DISTINCT sb.doc_id FROM db sb
       |        JOIN surv USING (doc_id)
       |        JOIN cb ON sb.band = cb.band AND sb.band_key = cb.band_key)
       |SELECT doc_id AS id, band, band_key FROM cb
       |UNION ALL
       |SELECT sb.doc_id AS id, sb.band, sb.band_key FROM db sb
       |JOIN surv USING (doc_id)
       |WHERE sb.doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin
  }

  /** DuckDB mirror of the r6 incremental-curation flagship
    * (q_incremental_pipeline) — the component oracles composed end to end:
    * snapshot diff = md5 full-outer join (q_snapshot_diff's replay; here
    * old = docs minus id%11=3 with texts perturbed at id%7=0, new = ALL
    * docs, so `removed` never occurs and fresh = added ∪ changed =
    * {id%11=3} ∪ {id%7=0}), probe = the band-key semi-join of
    * [[incrementalNearDupOracle]] with the index built over the UNCHANGED
    * corpus, token budget = q_token_budget's per-group cumulative-sum
    * window at en→1500/zh→500/es→400.
    */
  private[graft] val incrementalPipelineOracle: String = {
    val mins = minhashMinsSql; val bandKey = bandKeySql
    s"""WITH old AS (SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END AS text
       |  FROM documents WHERE doc_id % 11 <> 3),
       |o AS (SELECT doc_id AS id, md5(text) AS old_hash FROM old),
       |n AS (SELECT doc_id AS id, md5(text) AS new_hash FROM documents),
       |diff AS (SELECT COALESCE(o.id, n.id) AS id,
       |  CASE WHEN old_hash IS NULL THEN 'added'
       |       WHEN new_hash IS NULL THEN 'removed'
       |       WHEN old_hash = new_hash THEN 'unchanged'
       |       ELSE 'changed' END AS status
       |  FROM o FULL OUTER JOIN n ON o.id = n.id),
       |fresh AS (SELECT d.doc_id, d.text, d.lang FROM documents d
       |          JOIN diff ON diff.id = d.doc_id
       |          WHERE diff.status IN ('added', 'changed')),
       |corpus AS (SELECT d.doc_id, d.text FROM documents d
       |           JOIN diff ON diff.id = d.doc_id
       |           WHERE diff.status = 'unchanged'),
       |ct AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM corpus),
       |cs AS (SELECT doc_id, $mins FROM ct GROUP BY doc_id),
       |cb AS (SELECT DISTINCT b.band, CASE b.band $bandKey END AS band_key
       |       FROM cs, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |ft AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM fresh),
       |fs AS (SELECT doc_id, $mins FROM ft GROUP BY doc_id),
       |fb AS (SELECT doc_id, b.band, CASE b.band $bandKey END AS band_key
       |       FROM fs, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |hit AS (SELECT DISTINCT fb.doc_id FROM fb JOIN cb USING (band, band_key)),
       |keep AS (SELECT f.doc_id, f.text, f.lang FROM fresh f
       |         LEFT JOIN hit h ON f.doc_id = h.doc_id WHERE h.doc_id IS NULL),
       |c AS (SELECT doc_id AS id, lang AS grp,
       |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
       |    md5(CAST(doc_id AS VARCHAR)) AS ord
       |  FROM keep WHERE lang IN ('en', 'zh', 'es')),
       |w AS (SELECT id, grp, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY grp ORDER BY ord, id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior FROM c)
       |SELECT id, grp, n_tokens FROM w WHERE prior <
       |  CASE grp WHEN 'en' THEN 1500 WHEN 'zh' THEN 500 ELSE 400 END""".stripMargin
  }

  /** DuckDB mirror of the streaming LSH bucket path (q_stream_neardup):
    * same minhash(16) → 4-band md5 buckets as [[lshPairsOracle]], but
    * UNCAPPED (the streaming state holds only (min_id, n) per bucket —
    * no member lists, so no mega-bucket hazard and no cap to mirror).
    * Canonical per doc = min doc_id over its buckets (membership includes
    * self, so canonical <= doc_id); duplicate iff canonical < doc_id.
    */
  private[graft] val streamNearDupOracle: String = {
    val mins = minhashMinsSql; val bandKey = bandKeySql
    s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM documents),
       |s AS (SELECT doc_id, $mins FROM t GROUP BY doc_id),
       |banded AS (SELECT doc_id, b.band,
       |           CASE b.band $bandKey END AS band_key
       |           FROM s, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |buckets AS (SELECT band, band_key, MIN(doc_id) AS min_id
       |            FROM banded GROUP BY 1, 2)
       |SELECT doc_id, MIN(min_id) AS canonical, MIN(min_id) < doc_id AS is_dup
       |FROM banded JOIN buckets USING (band, band_key) GROUP BY doc_id""".stripMargin
  }

  /** DuckDB mirror of the fake-media decode: md5-derived bytes, exact sums,
    * int÷int mean (see Multimodal.fakeMedia/fakeDecode).
    */
  private[graft] val multimodalOracle: String =
    """WITH m AS (SELECT doc_id AS id, md5('media:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |b AS (SELECT id, h,
      |      list_sum(list_transform(range(0, 16),
      |                i -> ('0x' || substring(h, i * 2 + 1, 2))::BIGINT)) AS md5sum
      |      FROM m)
      |SELECT id,
      | CASE (id % 3) WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'mp4' END AS format,
      | CAST(256 + (id % 64) * 16 AS INTEGER) AS n_bytes,
      | CAST((16 + id % 64) * md5sum AS BIGINT) AS byte_sum,
      | CAST((16 + id % 64) * md5sum AS DOUBLE) / CAST(256 + (id % 64) * 16 AS DOUBLE) AS mean_byte,
      | CAST(CASE WHEN id % 3 = 2 THEN (8 + id % 16 + 1) // 2 ELSE 1 END AS INTEGER) AS n_sampled
      |FROM b""".stripMargin

  /** DuckDB mirror of simhash banding: pairs sharing any 15-bit band with
    * hamming ≤ 3 (distinct, id_a < id_b). Builds on the simhash fingerprint
    * CTEs.
    */
  private[graft] val simhashPairsOracle: String = {
    val sums = (0 until 60).map(b =>
      s"SUM(CASE WHEN (h & ${1L << b}) <> 0 THEN 1 ELSE 0 END) AS v$b").mkString(", ")
    val fp = (0 until 60).map(b =>
      s"(CASE WHEN v$b * 2 > n THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM documents),
       |h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM t),
       |v AS (SELECT doc_id, COUNT(*) AS n, $sums FROM h GROUP BY doc_id),
       |f AS (SELECT doc_id AS id, CAST($fp AS BIGINT) AS fp FROM v),
       |banded AS (SELECT id, fp, b.band, (fp >> (b.band * 15)) & 32767 AS bkey
       |           FROM f, (SELECT unnest([0, 1, 2, 3]) AS band) b)
       |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
       |FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
       |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin
  }

  /** DuckDB mirror of hyperplane-LSH cosine near-dup: identical md5-derived
    * planes (15-hex-digit prefix → [-1,1) doubles — see Ann.hyperplanes),
    * identical sign-pattern band keys, then exact cosine ≥ tau on in-bucket
    * pairs. 2^59 = 576460752303423488.
    */
  private[graft] val cosineLshOracle: String = {
    val planeExpr =
      """list_transform(range(0, 64), j ->
        | CAST(('0x' || substring(md5('42:' || CAST(p.range AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
        |  / 576460752303423488.0 - 1.0)""".stripMargin
    s"""WITH planes AS (SELECT p.range AS pid, $planeExpr AS plane FROM range(0, 8) p),
       |e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 200),
       |bits AS (SELECT e.id, planes.pid,
       |         CASE WHEN list_dot_product(e.v, planes.plane) >= 0 THEN 1 ELSE 0 END AS bit
       |         FROM e, planes),
       |sig AS (SELECT id, list(bit ORDER BY pid) AS s FROM bits GROUP BY id),
       |banded AS (SELECT id, b.band,
       |           array_to_string(list_slice(s, b.band * 4 + 1, b.band * 4 + 4), ',') AS bkey
       |           FROM sig, (SELECT unnest([0, 1]) AS band) b),
       |buckets AS (SELECT band, bkey, list_sort(list(id)) AS ids
       |            FROM banded GROUP BY 1, 2 HAVING COUNT(*) > 1),
       |cand AS (SELECT DISTINCT x.a AS id_a, y.c AS id_b
       |         FROM buckets, unnest(ids) x(a), unnest(ids) y(c) WHERE x.a < y.c),
       |n AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
       |SELECT * FROM (
       |  SELECT id_a, id_b,
       |    CASE WHEN a.nrm * b.nrm = 0 THEN 0
       |         ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END AS cosine
       |  FROM cand JOIN n a ON a.id = id_a JOIN n b ON b.id = id_b
       |) WHERE cosine >= 0.2""".stripMargin
  }

  /** Brute-force cosine top-3; also the oracle of exhaustive IVF. */
  /** Shared CTEs for the margin-mining oracles: directional brute-force
    * top-4 lists (`ft`/`gt`), rank-pivoted neighborhood means (`fa`/`ga` —
    * the four cosines add in RANK order, replaying the operator's sorted
    * fold bit-for-bit; absent ranks COALESCE to 0.0, which is exact for a
    * double fold, so queries with fewer than k neighbors keep their mean
    * instead of going NULL and dropping out), and per-direction
    * margin-best tables (`mb`/`mb2`).
    */
  private[graft] val marginCtes: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |a AS (SELECT * FROM n WHERE vec_id % 2 = 0),
      |b AS (SELECT * FROM n WHERE vec_id % 2 = 1),
      |f AS (SELECT a.vec_id AS src, b.vec_id AS tgt,
      |      CASE WHEN a.nrm * b.nrm = 0 THEN 0
      |           ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END AS cos
      |      FROM a CROSS JOIN b),
      |fr AS (SELECT src, tgt, cos,
      |       row_number() OVER (PARTITION BY src ORDER BY cos DESC, tgt) AS rnk FROM f),
      |ft AS (SELECT * FROM fr WHERE rnk <= 4),
      |fa AS (SELECT src, (COALESCE(max(CASE WHEN rnk = 1 THEN cos END), 0.0)
      |                  + COALESCE(max(CASE WHEN rnk = 2 THEN cos END), 0.0)
      |                  + COALESCE(max(CASE WHEN rnk = 3 THEN cos END), 0.0)
      |                  + COALESCE(max(CASE WHEN rnk = 4 THEN cos END), 0.0))
      |                 / CAST(count(*) AS DOUBLE) AS avgc FROM ft GROUP BY src),
      |g AS (SELECT b.vec_id AS tgt, a.vec_id AS src,
      |      CASE WHEN b.nrm * a.nrm = 0 THEN 0
      |           ELSE list_dot_product(b.v, a.v) / (b.nrm * a.nrm) END AS cos
      |      FROM b CROSS JOIN a),
      |gr AS (SELECT tgt, src, cos,
      |       row_number() OVER (PARTITION BY tgt ORDER BY cos DESC, src) AS rnk FROM g),
      |gt AS (SELECT * FROM gr WHERE rnk <= 4),
      |ga AS (SELECT tgt, (COALESCE(max(CASE WHEN rnk = 1 THEN cos END), 0.0)
      |                  + COALESCE(max(CASE WHEN rnk = 2 THEN cos END), 0.0)
      |                  + COALESCE(max(CASE WHEN rnk = 3 THEN cos END), 0.0)
      |                  + COALESCE(max(CASE WHEN rnk = 4 THEN cos END), 0.0))
      |                 / CAST(count(*) AS DOUBLE) AS avgc FROM gt GROUP BY tgt),
      |m AS (SELECT ft.src, ft.tgt, ft.cos / ((fa.avgc + ga.avgc) / 2.0) AS mg
      |      FROM ft JOIN fa ON fa.src = ft.src JOIN ga ON ga.tgt = ft.tgt
      |      WHERE (fa.avgc + ga.avgc) / 2.0 > 0),
      |mb AS (SELECT src, tgt, mg,
      |       row_number() OVER (PARTITION BY src ORDER BY mg DESC, tgt) AS r FROM m),
      |m2 AS (SELECT gt.tgt, gt.src, gt.cos / ((ga.avgc + fa.avgc) / 2.0) AS mg
      |       FROM gt JOIN ga ON ga.tgt = gt.tgt JOIN fa ON fa.src = gt.src
      |       WHERE (ga.avgc + fa.avgc) / 2.0 > 0),
      |mb2 AS (SELECT tgt, src, mg,
      |        row_number() OVER (PARTITION BY tgt ORDER BY mg DESC, src) AS r FROM m2)""".stripMargin

  private[graft] val marginOracle: String =
    s"""$marginCtes
       |SELECT src AS src_id, tgt AS tgt_id,
       |       CAST(floor(mg * 1000000.0) AS BIGINT) AS margin_ppm
       |FROM mb WHERE r = 1 AND mg >= 1.01""".stripMargin

  private[graft] val marginMutualOracle: String =
    s"""$marginCtes
       |SELECT mb.src AS src_id, mb.tgt AS tgt_id,
       |       CAST(floor(mb.mg * 1000000.0) AS BIGINT) AS margin_ppm
       |FROM mb WHERE mb.r = 1 AND mb.mg >= 1.01
       |  AND EXISTS (SELECT 1 FROM mb2 WHERE mb2.r = 1 AND mb2.mg >= 1.01
       |              AND mb2.src = mb.src AND mb2.tgt = mb.tgt)""".stripMargin

  /** K-center greedy unrolled for k = 4: each `cN` picks the farthest row
    * (mind DESC, id) from the previous rounds' centers; distances are exact
    * integral doubles (floor-quantized vectors, same contract as
    * `kmeansCtes`), so ties and radii are engine-exact.
    */
  private[graft] val kcenterOracle: String =
    """WITH q AS (SELECT vec_id,
      |     list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1048576.0)) AS qv
      |     FROM embeddings),
      |c1 AS (SELECT vec_id, qv FROM q
      |       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
      |d1 AS (SELECT t.vec_id, t.qv, list_dot_product(t.d, t.d) AS mind
      |       FROM (SELECT q.vec_id, q.qv,
      |             list_transform(range(1, 65), i -> q.qv[i] - c1.qv[i]) AS d
      |             FROM q CROSS JOIN c1) t),
      |c2 AS (SELECT vec_id, qv, mind FROM d1 ORDER BY mind DESC, vec_id LIMIT 1),
      |d2 AS (SELECT t.vec_id, t.qv, least(t.mind, list_dot_product(t.d, t.d)) AS mind
      |       FROM (SELECT d1.vec_id, d1.qv, d1.mind,
      |             list_transform(range(1, 65), i -> d1.qv[i] - c2.qv[i]) AS d
      |             FROM d1 CROSS JOIN c2) t),
      |c3 AS (SELECT vec_id, qv, mind FROM d2 ORDER BY mind DESC, vec_id LIMIT 1),
      |d3 AS (SELECT t.vec_id, t.qv, least(t.mind, list_dot_product(t.d, t.d)) AS mind
      |       FROM (SELECT d2.vec_id, d2.qv, d2.mind,
      |             list_transform(range(1, 65), i -> d2.qv[i] - c3.qv[i]) AS d
      |             FROM d2 CROSS JOIN c3) t),
      |c4 AS (SELECT vec_id, mind FROM d3 ORDER BY mind DESC, vec_id LIMIT 1)
      |SELECT CAST(1 AS BIGINT) AS step, (SELECT vec_id FROM c1) AS center_id,
      |       CAST(NULL AS DOUBLE) AS radius
      |UNION ALL SELECT 2, (SELECT vec_id FROM c2), (SELECT mind FROM c2)
      |UNION ALL SELECT 3, (SELECT vec_id FROM c3), (SELECT mind FROM c3)
      |UNION ALL SELECT 4, (SELECT vec_id FROM c4), (SELECT mind FROM c4)""".stripMargin

  private[graft] val annOracle: String =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |s AS (SELECT query_id, neighbor_id,
      |  CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) = 0 THEN 0
      |       ELSE list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) END AS cos
      | FROM q, c WHERE query_id <> neighbor_id),
      |r AS (SELECT query_id, neighbor_id,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r WHERE rank <= 3""".stripMargin

  /** DuckDB replay of scalar quantization (q_sq_topk): per-dim min/max
    * scales over the quantized corpus, byte codes via clamp-then-truncating-
    * divide (every division non-negative, so `//` ≡ Java long division ≡
    * floor — the SqEncode/SqAdcDist contract), reconstructions, and the
    * exact-long squared distance. Parameters match the q_sq_topk entry:
    * dim=64, scale=2^16, queries vec_id < 8, topK=3.
    */
  private[graft] val sqScoredCtes: String =
    """WITH q AS MATERIALIZED (SELECT vec_id,
      |     list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 65536.0) AS BIGINT)) AS qv
      |     FROM embeddings),
      |poss AS (SELECT unnest(range(1, 65)) AS pos),
      |mm AS MATERIALIZED (SELECT pos, MIN(qv[pos]) AS lo, MAX(qv[pos]) - MIN(qv[pos]) AS w
      |     FROM q CROSS JOIN poss GROUP BY pos),
      |rv AS MATERIALIZED (SELECT vec_id,
      |     list(CASE WHEN w = 0 THEN lo
      |               ELSE lo + ((((least(greatest(qv[pos], lo), lo + w) - lo) * 255) // w) * w) // 255
      |          END ORDER BY pos) AS rvec
      |     FROM q CROSS JOIN poss JOIN mm USING (pos) GROUP BY vec_id),
      |scored AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
      |     CAST(list_dot_product(
      |       list_transform(range(1, 65), i -> CAST(qq.qv[i] - cc.rvec[i] AS DOUBLE)),
      |       list_transform(range(1, 65), i -> CAST(qq.qv[i] - cc.rvec[i] AS DOUBLE))) AS BIGINT) AS sq2
      |     FROM (SELECT vec_id, qv FROM q WHERE vec_id < 8) qq
      |     CROSS JOIN rv cc WHERE qq.vec_id <> cc.vec_id)""".stripMargin

  private[graft] val sqOracle: String =
    s"""$sqScoredCtes
      |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, sq2 FROM (
      |  SELECT query_id, neighbor_id, sq2,
      |         row_number() OVER (PARTITION BY query_id ORDER BY sq2, neighbor_id) AS rnk
      |  FROM scored) WHERE rnk <= 3""".stripMargin

  /** SQ top-8 shortlist, then exact-L2 re-rank to top-3 — the same
    * (q·q + c·c) − 2·q·c replay as `pqRerankOracle` (the shared
    * `Pq.rerank` recall lever over an SQ shortlist).
    */
  private[graft] val sqRerankOracle: String =
    s"""$sqScoredCtes,
       |short AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY sq2, neighbor_id) AS rnk
       |  FROM scored) WHERE rnk <= 8),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, d2 FROM (
       |  SELECT query_id, neighbor_id, d2,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY d2, neighbor_id) AS rnk
       |  FROM (SELECT sh.query_id, sh.neighbor_id,
       |        list_dot_product(qq.v, qq.v) + list_dot_product(cc.v, cc.v)
       |        - 2 * list_dot_product(qq.v, cc.v) AS d2
       |        FROM short sh JOIN ev qq ON qq.vec_id = sh.query_id
       |        JOIN ev cc ON cc.vec_id = sh.neighbor_id))
       |WHERE rnk <= 3""".stripMargin

  /** DuckDB replay of late-interaction MaxSim (q_maxsim): quantize every
    * token vector with the same floor(x·2^16) the Column API applies, take
    * per-(query, query-token, doc) maxima of the EXACT integer dots, sum
    * per (query, doc), and rank — all arithmetic integral below 2^53, so
    * the BIGINT scores hash-match bit-for-bit.
    */
  private[graft] val maxSimOracle: String =
    """WITH e AS (SELECT vec_id // 5 AS id, vec_id % 5 AS pos,
      |  list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 65536.0)) AS qv
      |  FROM embeddings),
      |pm AS (SELECT q.id AS query_id, q.pos AS qpos, d.id AS neighbor_id,
      |  max(CAST(list_dot_product(q.qv, d.qv) AS BIGINT)) AS m
      | FROM e q JOIN e d ON q.id % 20 = 0 AND q.id <> d.id
      | GROUP BY 1, 2, 3),
      |sc AS (SELECT query_id, neighbor_id, CAST(SUM(m) AS BIGINT) AS maxsim
      | FROM pm GROUP BY 1, 2)
      |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, maxsim FROM (
      |  SELECT query_id, neighbor_id, maxsim,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY maxsim DESC, neighbor_id) AS rnk
      |  FROM sc) WHERE rnk <= 3""".stripMargin

  /** DuckDB replay of two-stage MaxSim (q_maxsim_rerank): pool by
    * per-component sums over each document's quantized token vectors
    * (the sqScoredCtes positional-subscript device), screen to the top-8
    * pooled-dot candidates, then replay the exact MaxSim interaction on
    * shortlist pairs only — every stage integral below 2^53.
    */
  private[graft] val maxSimRerankOracle: String =
    """WITH e AS MATERIALIZED (SELECT vec_id // 5 AS id, vec_id % 5 AS pos,
      |  list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 65536.0)) AS qv
      |  FROM embeddings),
      |pool AS (SELECT id, list(comp ORDER BY j) AS pv FROM (
      |    SELECT id, j, SUM(qv[j]) AS comp
      |    FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS j) GROUP BY id, j)
      |  GROUP BY id),
      |short AS (SELECT query_id, neighbor_id FROM (
      |    SELECT q.id AS query_id, d.id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.id
      |        ORDER BY CAST(list_dot_product(q.pv, d.pv) AS BIGINT) DESC, d.id)
      |        AS rnk
      |    FROM pool q JOIN pool d ON q.id % 20 = 0 AND q.id <> d.id)
      |  WHERE rnk <= 8),
      |pm AS (SELECT s.query_id, q.pos AS qpos, s.neighbor_id,
      |  max(CAST(list_dot_product(q.qv, d.qv) AS BIGINT)) AS m
      | FROM short s JOIN e q ON q.id = s.query_id
      |   JOIN e d ON d.id = s.neighbor_id
      | GROUP BY 1, 2, 3),
      |sc AS (SELECT query_id, neighbor_id, CAST(SUM(m) AS BIGINT) AS maxsim
      | FROM pm GROUP BY 1, 2)
      |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, maxsim FROM (
      |  SELECT query_id, neighbor_id, maxsim,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY maxsim DESC, neighbor_id) AS rnk
      |  FROM sc) WHERE rnk <= 3""".stripMargin

  /** The index dir the current session's q_maxsim_index_delta run wrote —
    * the oracle replay reads the TRAINED coarse centroids back from this
    * stored model (k-means means are not SQL-replayable; the stored model
    * is the frozen contract both engines must share). [[Verify]] dumps
    * `oracleSql` AFTER running every query in the same JVM, so the path
    * is always bound by dump time; the never-written fallback keeps the
    * SQL well-formed if the map is rendered without a prior run.
    */

  /** Replay of q_maxsim_index_delta's maintained matrix table: pooled
    * vectors per document (exact integer sums of the quantized token
    * components), centroids READ FROM THE STORED MODEL ([[msIdxDeltaDir]]
    * — the build trains them with k-means, which SQL cannot replay; what
    * the oracle checks is maintenance under the frozen model, and the
    * live generation's coarse parquet IS that model), routing = argmax cosine over
    * the pooled doubles with the (cos DESC, cent_id ASC) ProbeCells order
    * (dots are exact integers; sqrt/division are correctly-rounded IEEE
    * on both engines, so the cosines are bit-identical), membership =
    * (indexed − retired) ∪ admitted (retire applies to stored rows only:
    * `id % 13 <> 0 OR id % 10 = 0`). ntoks pins each matrix's shape and
    * fro (the exact integer Σ_tokens ⟨t,t⟩ Frobenius digest) pins its
    * content — the identity being checked is maintained ≡
    * re-gathered-from-scratch under the stored model.
    */
  private[graft] def maxSimIndexDeltaOracle: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id // 5 AS id, vec_id % 5 AS pos,
      |  list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 65536.0)) AS qv
      |  FROM embeddings),
      |pool AS MATERIALIZED (SELECT id, list(comp ORDER BY j) AS pv FROM (
      |    SELECT id, j, SUM(qv[j]) AS comp
      |    FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS j) GROUP BY id, j)
      |  GROUP BY id),
      |stats AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS ntoks,
      |    CAST(SUM(list_dot_product(qv, qv)) AS BIGINT) AS fro
      |  FROM e GROUP BY id),
      |cents AS MATERIALIZED (SELECT cent_id, CAST(cent_vec AS DOUBLE[]) AS cv
      |  FROM read_parquet('${msIdxDeltaDir.get}/*.parquet')),
      |asg AS (SELECT id, cent_id AS cell FROM (
      |    SELECT p.id, c.cent_id,
      |      row_number() OVER (PARTITION BY p.id ORDER BY
      |        CASE WHEN sqrt(list_dot_product(p.pv, p.pv))
      |                  * sqrt(list_dot_product(c.cv, c.cv)) = 0 THEN 0.0
      |             ELSE list_dot_product(p.pv, c.cv)
      |                  / (sqrt(list_dot_product(p.pv, p.pv))
      |                     * sqrt(list_dot_product(c.cv, c.cv))) END DESC,
      |        c.cent_id) AS rnk
      |    FROM pool p CROSS JOIN cents c) WHERE rnk = 1)
      |SELECT a.id, a.cell, s.ntoks, s.fro
      |FROM asg a JOIN stats s USING (id)
      |WHERE a.id % 13 <> 0 OR a.id % 10 = 0""".stripMargin

  /** Replay of q_manifest / q_stream_manifest: the corpus_shuffle shard
    * derivation, then per-shard count / char sum / bit_xor of the 60-bit
    * md5 prefix over id ∥ chr(1) ∥ text. The streaming twin converges to
    * the same table because all three measures are mergeable.
    */
  private[graft] val manifestOracle: String =
    """WITH k AS (SELECT doc_id, text,
      |  md5('7|' || CAST(doc_id AS VARCHAR)) AS key FROM documents),
      |s AS (SELECT doc_id, text,
      |  ('0x' || substring(key, 1, 15))::BIGINT % 8 AS shard FROM k),
      |h AS (SELECT shard, length(text) AS len,
      |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || chr(1) || text), 1, 15))::BIGINT AS h
      |  FROM s)
      |SELECT shard, COUNT(*) AS n_rows, CAST(SUM(len) AS BIGINT) AS n_chars,
      |       bit_xor(h) AS content_xor
      |FROM h GROUP BY shard""".stripMargin

  /** DuckDB replay of the JL projection top-k (q_jl_topk): the ±1 sign
    * matrix rebuilt from the md5-parity recipe (`Jl.signMatrix` seed=42,
    * 16×64), projection as `list_dot_product` + `CAST(… AS REAL)` (≡
    * MatVecMul's left-to-right double accumulate narrowed once), then the
    * annOracle cosine/rank replay in the reduced space.
    */
  private[graft] val jlOracle: String =
    """WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sgn AS MATERIALIZED (SELECT i,
      |     list(CASE WHEN ('0x' || substring(md5('42:' || CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
      |               THEN 1.0 ELSE -1.0 END ORDER BY j) AS srow
      |     FROM (SELECT unnest(range(0, 16)) AS i) CROSS JOIN (SELECT unnest(range(0, 64)) AS j)
      |     GROUP BY i),
      |p AS MATERIALIZED (SELECT vec_id,
      |     list(CAST(list_dot_product(srow, v) AS REAL) ORDER BY i) AS pv
      |     FROM e CROSS JOIN sgn GROUP BY vec_id),
      |q AS (SELECT vec_id AS query_id, CAST(pv AS DOUBLE[]) AS qv FROM p WHERE vec_id < 8),
      |c AS (SELECT vec_id AS neighbor_id, CAST(pv AS DOUBLE[]) AS cv FROM p),
      |s AS (SELECT query_id, neighbor_id,
      |  CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) = 0 THEN 0
      |       ELSE list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) END AS cos
      | FROM q, c WHERE query_id <> neighbor_id),
      |r AS (SELECT query_id, neighbor_id,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r WHERE rank <= 3""".stripMargin

  /** Replay of q_sq_index_delta's maintained code table: scales train on
    * the 90% generation (`vec_id % 10 <> 0` — the indexed corpus), codes
    * derive for the MAINTAINED membership ((indexed − retired) ∪ admitted
    * — retire applies to stored rows only, single-call replace) under
    * those FROZEN scales — the 10% delta's out-of-range components
    * saturate via the same clamp-then-divide.
    */
  private[graft] val sqIndexDeltaOracle: String =
    """WITH q AS MATERIALIZED (SELECT vec_id,
      |     list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 65536.0) AS BIGINT)) AS qv
      |     FROM embeddings),
      |poss AS (SELECT unnest(range(1, 65)) AS pos),
      |mm AS MATERIALIZED (SELECT pos, MIN(qv[pos]) AS lo, MAX(qv[pos]) - MIN(qv[pos]) AS w
      |     FROM (SELECT * FROM q WHERE vec_id % 10 <> 0) CROSS JOIN poss GROUP BY pos)
      |SELECT vec_id, pos - 1 AS pos,
      |       CASE WHEN w = 0 THEN 0
      |            ELSE ((least(greatest(qv[pos], lo), lo + w) - lo) * 255) // w
      |       END AS code
      |FROM q CROSS JOIN poss JOIN mm USING (pos)
      |WHERE vec_id % 13 <> 0 OR vec_id % 10 = 0""".stripMargin

  private[graft] val langidOracle: String = {
    val codes = Text.stopwords.keys.toSeq.sorted // de, en, es, fr
    val scores = codes.map(c => s"${langScore(Text.stopwords(c))} AS s_$c").mkString(", ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |sc AS (SELECT doc_id, $scores FROM t)
       |SELECT doc_id, CASE
       |  WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
       |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |  WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |  WHEN s_es >= s_fr THEN 'es'
       |  ELSE 'fr' END AS lang_pred FROM sc""".stripMargin
  }

  /** Gap sessionization as three window passes — shared by the window-fn
    * and flatMapGroupsWithState forms (they must agree exactly). A break row
    * is never timestamp-tied with its predecessor (break needs diff > gap >
    * 0), so the cumulative-sum session ids are deterministic under ties.
    */
  /** The gap-sessionization CTE prefix (e → lag/brk → running-sum sid)
    * shared by sessionizeOracle, the q_stream_sessions oracle (Spark's
    * `session_window` closes at `>=` gap where sessionize breaks at `>`
    * — the comparator is the ONE sanctioned difference, passed in), and
    * the q_dialogue_pack oracle (which carries event_type through and
    * filters null utterances) — one spelling of the chain, so a gap or
    * brk edit cannot silently fork one replay from its siblings.
    */
  private[graft] def sessionCtesSql(cmp: String, extraCols: String = "",
                             eWhere: String = ""): String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us$extraCols FROM events$eWhere),
       |d AS (SELECT user_id, ts_us$extraCols,
       |      CASE WHEN lag(ts_us) OVER w IS NULL
       |                OR ts_us - lag(ts_us) OVER w $cmp 600000000 THEN 1 ELSE 0 END AS brk
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
       |s AS (SELECT user_id, ts_us$extraCols,
       |      SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS sid
       |      FROM d)""".stripMargin

  private[graft] val sessionizeOracle: String =
    s"""${sessionCtesSql(">")}
       |SELECT user_id, CAST(sid AS BIGINT) AS session_id,
       | MIN(ts_us) AS session_start, MAX(ts_us) AS session_end, COUNT(*) AS n_events
       |FROM s GROUP BY user_id, sid""".stripMargin

  /** Exhaustive shingle-Jaccard at a given tau — oracles both the bucket
    * (q_jaccard) and prefix-filtered (q_jaccard_prefix) implementations,
    * since prefix filtering is lossless.
    */
  private[graft] def jaccardOracle(tau: String): String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |       unnest(list_transform(range(0, len(tk) - 2),
       |              i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))) AS shingle
       |       FROM toks WHERE len(tk) >= 3),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |it AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
       |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2)
       |SELECT id_a, id_b, n_inter,
       | CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS jaccard
       |FROM it JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= $tau""".stripMargin

  /** Shared CTE chain for the k-means oracles: quantize → md5 seeds (c0) →
    * assign (a1) → mean update (c1) → re-assign (a2). Mirrors
    * `Clustering.lloydCentroids`/`withCluster` at k=4, rounds=2, dim=64,
    * scale=2^20 — every arithmetic step is either exact (integral-double
    * sums, int÷int division) or an identically-ordered IEEE fold
    * (`list_dot_product` ≡ the operator's left-to-right aggregate).
    */
  private[graft] val kmeansCtes: String =
    """WITH q AS (SELECT vec_id,
      |     list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1048576.0)) AS qv
      |     FROM embeddings),
      |s AS (SELECT vec_id, qv,
      |      row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM q),
      |c0 AS (SELECT rn - 1 AS cid, qv AS cv FROM s WHERE rn <= 4),
      |a1 AS (SELECT vec_id, qv, cid, list_dot_product(d, d) AS dist2,
      |       row_number() OVER (PARTITION BY vec_id
      |                          ORDER BY list_dot_product(d, d), cid) AS rnk
      |       FROM (SELECT vec_id, qv, cid,
      |             list_transform(range(1, 65), i -> qv[i] - cv[i]) AS d
      |             FROM q CROSS JOIN c0)),
      |m1 AS (SELECT vec_id, qv, cid FROM a1 WHERE rnk = 1),
      |c1 AS (SELECT cid, list(sv ORDER BY pos) AS cv FROM
      |       (SELECT cid, pos, SUM(qv[pos]) / CAST(COUNT(*) AS DOUBLE) AS sv
      |        FROM m1 CROSS JOIN (SELECT unnest(range(1, 65)) AS pos)
      |        GROUP BY cid, pos)
      |       GROUP BY cid),
      |a2 AS (SELECT vec_id, cid, list_dot_product(d, d) AS dist2,
      |       row_number() OVER (PARTITION BY vec_id
      |                          ORDER BY list_dot_product(d, d), cid) AS rnk
      |       FROM (SELECT vec_id, qv, cid,
      |             list_transform(range(1, 65), i -> qv[i] - cv[i]) AS d
      |             FROM q CROSS JOIN c1))""".stripMargin

  /** DuckDB replay of product quantization (q_pq): per-subspace Lloyd
    * training (same seeding/quantization as `kmeansCtes`), corpus codes,
    * query distance tables, ADC scores — all relational joins. Parameters
    * must match the q_pq entry: dim=64, m=2 (sub=32), k=4, rounds=2,
    * queries vec_id < 8, topK=3. `vecExpr` is the embedding expression the
    * whole replay quantizes — `list_reverse(embedding)` replays the fixed
    * reversal ROTATION of q_ann_index_opq (an orthonormal permutation, so
    * MatVecMul's double-accumulate-then-narrow reproduces the permuted
    * floats EXACTLY and the rotated replay stays bit-deterministic).
    */
  private[graft] def pqScoredCtesFor(vecExpr: String,
                              queryWhere: String = "vec_id < 8"): String = {
    val (m, sub, k) = (2, 32, 4)
    val perSub = (0 until m).map { j =>
      val lo = j * sub + 1; val hi = (j + 1) * sub
      s"""sq$j AS MATERIALIZED (SELECT vec_id, list_slice(qv, $lo, $hi) AS sv FROM q),
         |sc0$j AS MATERIALIZED (SELECT rn - 1 AS cid, list_slice(qv, $lo, $hi) AS cv
         |        FROM s WHERE rn <= $k),
         |sm1$j AS MATERIALIZED (SELECT vec_id, sv, cid FROM (
         |        SELECT vec_id, sv, cid,
         |               row_number() OVER (PARTITION BY vec_id
         |                                  ORDER BY list_dot_product(d, d), cid) AS rnk
         |        FROM (SELECT vec_id, sv, cid,
         |              list_transform(range(1, ${sub + 1}), i -> sv[i] - cv[i]) AS d
         |              FROM sq$j CROSS JOIN sc0$j)) WHERE rnk = 1),
         |sc1$j AS MATERIALIZED (SELECT cid, list(sval ORDER BY pos) AS cv FROM
         |        (SELECT cid, pos, SUM(sv[pos]) / CAST(COUNT(*) AS DOUBLE) AS sval
         |         FROM sm1$j CROSS JOIN (SELECT unnest(range(1, ${sub + 1})) AS pos)
         |         GROUP BY cid, pos) GROUP BY cid),
         |cod$j AS MATERIALIZED (SELECT vec_id, cid FROM (
         |        SELECT vec_id, cid,
         |               row_number() OVER (PARTITION BY vec_id
         |                                  ORDER BY list_dot_product(d, d), cid) AS rnk
         |        FROM (SELECT vec_id, cid,
         |              list_transform(range(1, ${sub + 1}), i -> sv[i] - cv[i]) AS d
         |              FROM sq$j CROSS JOIN sc1$j)) WHERE rnk = 1),
         |dt$j AS MATERIALIZED (SELECT query_id, cid, list_dot_product(d, d) AS d2 FROM (
         |        SELECT qq.vec_id AS query_id, cid,
         |               list_transform(range(1, ${sub + 1}), i -> qq.sv[i] - cv[i]) AS d
         |        FROM (SELECT vec_id, sv FROM sq$j WHERE $queryWhere) qq
         |        CROSS JOIN sc1$j))""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (SELECT vec_id,
       |     list_transform($vecExpr, x -> floor(CAST(x AS DOUBLE) * 1048576.0)) AS qv
       |     FROM embeddings),
       |s AS MATERIALIZED (SELECT vec_id, qv,
       |      row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM q),
       |$perSub,
       |scored AS (SELECT dt0.query_id, co0.vec_id AS neighbor_id,
       |           dt0.d2 + dt1.d2 AS adc2
       |           FROM cod0 co0 JOIN cod1 co1 USING (vec_id)
       |           JOIN dt0 ON dt0.cid = co0.cid
       |           JOIN dt1 ON dt1.cid = co1.cid AND dt1.query_id = dt0.query_id
       |           WHERE dt0.query_id <> co0.vec_id)""".stripMargin
  }
  private[graft] val pqScoredCtes: String = pqScoredCtesFor("embedding")

  /** Replay of q_maxsim_ann_candidates: the pqScoredCtes ADC chain with
    * the query-TOKEN predicate (every token of every 20th document), cut
    * to top-5 corpus tokens per query token (nprobe = nlist ⇒ exhaustive
    * ADC — no cell replay needed), votes per (query doc, corpus doc),
    * top-8 candidates by (votes DESC, doc ASC), then the exact MaxSim
    * interaction (the maxSimOracle arithmetic) over candidate pairs only.
    */
  private[graft] val maxSimAnnCandOracle: String =
    s"""${pqScoredCtesFor("embedding", "vec_id // 5 % 20 = 0")},
       |hits AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY adc2, neighbor_id) AS rnk
       |  FROM scored) WHERE rnk <= 5),
       |votes AS (SELECT query_id // 5 AS qdoc, neighbor_id // 5 AS ndoc,
       |          COUNT(*) AS v
       |          FROM hits WHERE query_id // 5 <> neighbor_id // 5
       |          GROUP BY 1, 2),
       |cand AS (SELECT qdoc, ndoc FROM (
       |  SELECT qdoc, ndoc, row_number() OVER (PARTITION BY qdoc
       |         ORDER BY v DESC, ndoc) AS rnk FROM votes) WHERE rnk <= 8),
       |e AS (SELECT vec_id // 5 AS id, vec_id % 5 AS pos,
       |  list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 65536.0)) AS tv
       |  FROM embeddings),
       |pm AS (SELECT c.qdoc AS query_id, q2.pos AS qpos, c.ndoc AS neighbor_id,
       |  max(CAST(list_dot_product(q2.tv, d.tv) AS BIGINT)) AS m
       | FROM cand c JOIN e q2 ON q2.id = c.qdoc JOIN e d ON d.id = c.ndoc
       | GROUP BY 1, 2, 3),
       |sc AS (SELECT query_id, neighbor_id, CAST(SUM(m) AS BIGINT) AS maxsim
       | FROM pm GROUP BY 1, 2)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, maxsim FROM (
       |  SELECT query_id, neighbor_id, maxsim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY maxsim DESC, neighbor_id) AS rnk
       |  FROM sc) WHERE rnk <= 3""".stripMargin
  private[graft] val pqOracle: String =
    s"""$pqScoredCtes
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, adc2 FROM (
       |  SELECT query_id, neighbor_id, adc2,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY adc2, neighbor_id) AS rnk
       |  FROM scored) WHERE rnk <= 3""".stripMargin
  /** q_ann_index_opq: the same replay over the REVERSED embedding — the
    * stored rotation is the coordinate-reversal permutation, so training,
    * codes, and ADC all happen in the rotated space on both engines.
    */
  private[graft] val pqOpqOracle: String =
    s"""${pqScoredCtesFor("list_reverse(embedding)")}
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, adc2 FROM (
       |  SELECT query_id, neighbor_id, adc2,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY adc2, neighbor_id) AS rnk
       |  FROM scored) WHERE rnk <= 3""".stripMargin
  /** ADC top-8 shortlist, then exact-L2 re-rank to top-3 — the same
    * (q·q + c·c) − 2·q·c double arithmetic as `Pq.rerank` (float→double
    * casts are exact; both engines sum products sequentially).
    */
  private[graft] val pqRerankOracle: String =
    s"""$pqScoredCtes,
       |short AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY adc2, neighbor_id) AS rnk
       |  FROM scored) WHERE rnk <= 8),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, d2 FROM (
       |  SELECT query_id, neighbor_id, d2,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY d2, neighbor_id) AS rnk
       |  FROM (SELECT sh.query_id, sh.neighbor_id,
       |        list_dot_product(qq.v, qq.v) + list_dot_product(cc.v, cc.v)
       |        - 2 * list_dot_product(qq.v, cc.v) AS d2
       |        FROM short sh JOIN ev qq ON qq.vec_id = sh.query_id
       |        JOIN ev cc ON cc.vec_id = sh.neighbor_id))
       |WHERE rnk <= 3""".stripMargin

  /** Replay of q_ann_index_delta's maintained PQ code table: codebooks
    * train on the 90% generation (`vec_id % 10 <> 0` — the indexed
    * corpus), codes derive for the MAINTAINED membership ((indexed −
    * retired) ∪ admitted — retire applies to stored rows only, so
    * `vec_id % 13 <> 0 OR vec_id % 10 = 0`). Same per-subspace
    * Lloyd/assignment CTEs
    * as `pqScoredCtes`, parameterized by the two filters — the identity
    * being checked is maintained ≡ re-encoded-from-scratch under the
    * frozen model.
    */
  private[graft] val annIndexDeltaOracle: String = {
    val (m, sub, k) = (2, 32, 4)
    val trainWhere = "vec_id % 10 <> 0"
    // maintained membership = (indexed − retired) ∪ admitted: retire
    // applies to stored rows only, admitted always enters (the
    // single-call-replace contract) — ids in both sets stay
    val codeWhere = "(vec_id % 13 <> 0 OR vec_id % 10 = 0)"
    val perSub = (0 until m).map { j =>
      val lo = j * sub + 1
      s"""sq$j AS MATERIALIZED (SELECT vec_id, list_slice(qv, $lo, ${j * sub + sub}) AS sv FROM q),
         |sc0$j AS MATERIALIZED (SELECT rn - 1 AS cid, list_slice(qv, $lo, ${j * sub + sub}) AS cv
         |        FROM s WHERE rn <= $k),
         |sm1$j AS MATERIALIZED (SELECT vec_id, sv, cid FROM (
         |        SELECT vec_id, sv, cid,
         |               row_number() OVER (PARTITION BY vec_id
         |                                  ORDER BY list_dot_product(d, d), cid) AS rnk
         |        FROM (SELECT vec_id, sv, cid,
         |              list_transform(range(1, ${sub + 1}), i -> sv[i] - cv[i]) AS d
         |              FROM (SELECT * FROM sq$j WHERE $trainWhere) CROSS JOIN sc0$j))
         |        WHERE rnk = 1),
         |sc1$j AS MATERIALIZED (SELECT cid, list(sval ORDER BY pos) AS cv FROM
         |        (SELECT cid, pos, SUM(sv[pos]) / CAST(COUNT(*) AS DOUBLE) AS sval
         |         FROM sm1$j CROSS JOIN (SELECT unnest(range(1, ${sub + 1})) AS pos)
         |         GROUP BY cid, pos) GROUP BY cid),
         |cod$j AS MATERIALIZED (SELECT vec_id, cid FROM (
         |        SELECT vec_id, cid,
         |               row_number() OVER (PARTITION BY vec_id
         |                                  ORDER BY list_dot_product(d, d), cid) AS rnk
         |        FROM (SELECT vec_id, cid,
         |              list_transform(range(1, ${sub + 1}), i -> sv[i] - cv[i]) AS d
         |              FROM (SELECT * FROM sq$j WHERE $codeWhere) CROSS JOIN sc1$j))
         |        WHERE rnk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (SELECT vec_id,
       |     list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1048576.0)) AS qv
       |     FROM embeddings),
       |s AS MATERIALIZED (SELECT vec_id, qv,
       |      row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |      FROM q WHERE $trainWhere),
       |$perSub
       |SELECT cod0.vec_id AS vec_id, CAST(cod0.cid AS BIGINT) AS code0,
       |       CAST(cod1.cid AS BIGINT) AS code1
       |FROM cod0 JOIN cod1 USING (vec_id)""".stripMargin
  }
}
