package graft

/** Benchmark main (driver contract): run every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, print one JSON line of per-query wall seconds.
  *
  * A short warmup absorbs session-wide first-job costs (task infra spin-up,
  * datasource/exec class loading, first shuffle & broadcast) so measured
  * numbers reflect query latency, not JVM boot; queries then run in sorted
  * name order for run-to-run comparability.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // The artifact tail MUST be pure JSON: the driver archives the last
    // ~2000 chars of stdout, and one stray stack trace printed by a
    // background thread (observed r11: a stream-drain exception logged
    // during q_stream_winnow's region leaked frames onto stdout even
    // though the query retried green) buries the line the round is
    // graded on. So stdout is REDIRECTED to stderr for the whole run —
    // Spark/log4j/third-party printlns included — and restored only for
    // the single final JSON line.
    val realOut = System.out
    System.setOut(System.err)
    // System.setOut only redirects writers that READ System.out after this
    // point; scala.Console and log4j ConsoleAppenders capture the stream at
    // their own initialization, so under a launcher that initializes them
    // first (sbt run, spark-submit) stray prints could still reach the
    // archived stdout tail — redirect both explicitly for defense in depth.
    try scala.Console.withOut(System.err) { benchBody(realOut) }
    finally System.setOut(realOut)
  }

  /** Detach any log4j2 console appender that targets SYSTEM_OUT from the
    * root logger. Appenders capture their stream reference at config time,
    * so the System.setOut redirect above never reaches them. Spark's
    * default log4j2 template logs to SYSTEM_ERR already (this is a no-op
    * there); a user config pointed at stdout loses its console logging for
    * the bench run — the right trade when the artifact tail must be pure
    * JSON. Non-log4j2 bindings skip (cosmetic).
    */
  private def log4jConsoleToStderr(): Unit =
    try {
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.appender.ConsoleAppender
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val stdoutNames = new scala.collection.mutable.ArrayBuffer[String]
      cfg.getAppenders.forEach { (name, app) =>
        app match {
          case c: ConsoleAppender
              if c.getTarget == ConsoleAppender.Target.SYSTEM_OUT =>
            stdoutNames += name
          case _ => ()
        }
      }
      if (stdoutNames.nonEmpty) {
        stdoutNames.foreach(cfg.getRootLogger.removeAppender)
        ctx.updateLoggers()
      }
    } catch { case _: Throwable => () }

  /** Raise the root log level to WARN BEFORE the session boots. The
    * driver archives the launcher's merged output, so session-boot INFO
    * lines (BlockManager, SharedState) land in the artifact tail ahead of
    * any per-logger tweak `GraftSession.tune` applies — the r14 tail was
    * five boot INFO lines plus the JSON. `sparkContext.setLogLevel` can't
    * help: it runs after the boot lines print. Non-log4j2 bindings skip.
    */
  private def quietBoot(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.WARN)
    catch { case _: Throwable => () }

  private def benchBody(realOut: java.io.PrintStream): Unit = {
    quietBoot()
    log4jConsoleToStderr()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    Harness.warmup(spark, sfDir)

    // ANCHOR: a fixed-shape measurement (scan+shuffle+agg over lineitem,
    // min of 3) taken right after warmup and reported in the JSON line.
    // The bench runs on a SHARED machine — BENCH_r06 read 1.5-2x slower
    // than BENCH_r05 on identical code purely from external load. The
    // anchor's code never changes round to round, so anchor_sec drift IS
    // the machine drift; normalize per-query comparisons by it before
    // calling anything a regression.
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val anchor = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(org.apache.spark.sql.functions.sum("l_quantity"),
          org.apache.spark.sql.functions.count("*")).collect()
      (System.nanoTime() - t0) / 1e9
    }.min

    // queries run against the split copy (Harness.withSplitFixture); the
    // ANCHOR keeps reading the ORIGINAL dir — its shape must stay fixed
    // across rounds for drift normalization. Verify/oracle inputs are
    // untouched.
    // optional comma-separated allowlist for local iteration; the driver
    // leaves it unset → full suite
    val only = Harness.only
    val results = Harness.withSplitFixture(spark, sfDir, cpus,
        "graft_bench_split") { splitDir =>
      Harness.queries(only).map { case (name, fn) =>
        // Two timed runs, report the better: a single pass makes one query
        // per run eat a multi-second major-GC/JIT pause at random (observed
        // 2-4x outliers that move between queries run-to-run); min-of-2
        // measures the query, not the pause lottery.
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          // A failed query must be LOUD: stderr + a "failed" list in the JSON —
          // a silent -1 timing would make the bench line lie about coverage.
          // Materialize EVERY result row with ALL columns (toRdd on the
          // query's own plan), not df.count(): wrapping in count(1) lets
          // Catalyst prune projection tails and DROP cardinality-preserving
          // joins outright — discovered in r8 when substringDedup's per-doc
          // rollup (a left join against a unique-keyed aggregate) "cost"
          // the same at 100x as at 1x because the entire ownership pipeline
          // was eliminated under count. toRdd measures producing the result
          // the way Verify writes it, minus the file IO.
          // The drain that isolates queries (internal persists — coreference
          // edge list, Lm tf frames, … — must not eat heap from, and skew
          // timings of, later queries) stays INSIDE the timed region.
          val ok = Caching.withCached {
            try { fn(spark, splitDir).queryExecution.toRdd.count(); true } catch {
              case e: Throwable =>
                System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
                false
            }
          }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
        (name, times.map(_._1).min, times.forall(_._2))
      }
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedAll = results.collect { case (k, _, false) => k }
    val failed = failedAll.map(s => "\"" + s + "\"").mkString("[", ",", "]")
    // the stdout line caps its failed list at 10 names + a count — a
    // mass-failure round would otherwise blow the line past the archive
    // window in exactly the case the artifact matters most
    val failedShort = (failedAll.take(10).map(s => "\"" + s + "\"") ++
      (if (failedAll.size > 10) Seq("\"+" + (failedAll.size - 10) + " more\"")
       else Nil)).mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // the driver archives only the LAST ~2000 chars of output, and the
    // full per-query map is ~6000 — every pre-r11 artifact lost its head
    // (BENCH_r10's "parsed": null), so no round could diff its
    // predecessor mechanically. Two-part fix: the FULL map (all queries,
    // full precision) is written into the repo at plans/BENCH_FULL.json —
    // committed with the round, so round N+1 diffs N via git history —
    // and the stdout line (below) carries only the SLOWEST-40 subset,
    // ms-rounded, so the whole line fits the archive window and parses.
    // anchor gate: REF_ANCHOR is the recorded quiet-machine value (round-7
    // full run, sf0.1/local[32]). Drift beyond ±30% means the machine —
    // not the code — moved; the note makes every cross-round comparison
    // carry its own normalization warning instead of relying on a human
    // to remember the r6 false-regression lesson.
    val REF_ANCHOR = 0.272
    val drift = anchor / REF_ANCHOR
    val note =
      if (drift > 1.3 || drift < 1.0 / 1.3)
        f""","anchor_note":"anchor drifted ${drift}%.2fx vs reference $REF_ANCHOR%.3fs - machine load differs; normalize per-query comparisons by anchor ratio before calling regressions""""
      else ""
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","measured":"materialize_all_columns_r8","queries":$qs,"anchor_sec":$anchor,"anchor_ref":$REF_ANCHOR$note,"failed":$failed,"sf":"$sfDir"}"""
    // a FILTERED run (SPARK_GRAFT_ONLY local iteration) must never
    // clobber the committed full-suite map — round N+1 diffs round N
    // through this file, and a 5-query overwrite silently destroys the
    // history the artifact exists for (it happened twice in r13 before
    // this guard)
    // ...and the guard must hold even when SPARK_GRAFT_BENCH_FULL is set
    // explicitly: a subset run pointed at the committed artifact (or any
    // path under plans/) is redirected to the subset file, same clobber
    val fullPath = sys.env.get("SPARK_GRAFT_BENCH_FULL") match {
      case Some(p) if only.nonEmpty &&
          (p.contains("plans/") || p.endsWith("BENCH_FULL.json")) =>
        System.err.println(
          s"[bench] filtered run (SPARK_GRAFT_ONLY set) may not overwrite " +
          s"committed artifact $p; writing /tmp/BENCH_SUBSET.json instead")
        "/tmp/BENCH_SUBSET.json"
      case Some(p) => p
      case None => if (only.isEmpty) "plans/BENCH_FULL.json"
        else "/tmp/BENCH_SUBSET.json"
    }
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath),
      fullLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    val slow = results.sortBy(-_._2).take(40)
      .map { case (k, v, _) => "\"" + k + "\":" + (math.round(v * 1000) / 1000.0) }
      .mkString("{", ",", "}")
    // "measured" documents the r8 semantics change IN the artifact: full
    // result materialization (see the toRdd comment above). The stdout
    // line must FIT the driver's 2000-char archive window whole — so
    // "queries" here is the slowest-40 ms-rounded subset (the ones any
    // regression hunt starts from), "n_queries" carries coverage, and the
    // complete map lives in the committed plans/BENCH_FULL.json.
    // the ONE line that may reach real stdout (see main's redirect)
    realOut.println(s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},"unit":"sec","measured":"materialize_all_columns_r8","n_queries":${results.size},"queries":$slow,"queries_note":"slowest 40; full: $fullPath","anchor_sec":${math.round(anchor * 100000) / 100000.0},"anchor_ref":$REF_ANCHOR$note,"failed":$failedShort,"sf":"$sfDir"}""")
    realOut.flush()
    spark.stop()
  }
}
