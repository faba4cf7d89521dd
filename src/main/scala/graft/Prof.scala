package graft

/** Per-query profiling harness for the optimization rounds (guide §1:
  * measure first). Shares [[Bench]]'s environment through [[Harness]] —
  * same session, same split-fixture basis, same `toRdd.count()`
  * materialization —
  * then, for each named query, reports where the wall time of its last
  * run went, from the jobs [[Jobs.recorded]] saw that run submit:
  *
  *   - per-JOB wall spans (job id, duration, #tasks, summed task time,
  *     input and shuffle read/write bytes) in submission order, so
  *     iterative operators show their round structure;
  *   - the DRIVER GAP: wall time not covered by any running job —
  *     planning, collect-side work, file listing, checkpoint bookkeeping;
  *   - `dropped_stages`: stages of jobs the recorder never saw start,
  *     charged to no job.
  *
  * Usage: `SPARK_GRAFT_ONLY=q_a,q_b sbt "runMain graft.Prof"` (same env
  * contract as Bench; SPARK_GRAFT_PROF_RUNS overrides the 2-run default —
  * the report is from the LAST run, warm like Bench's min-of-2).
  * Output goes to stderr (human-readable), nothing to stdout.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROF_RUNS", "2").toInt
    val only = Harness.only
      .getOrElse(sys.error("set SPARK_GRAFT_ONLY to the queries to profile"))
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    Harness.warmup(spark, sfDir)

    Harness.withSplitFixture(spark, sfDir, cpus, "graft_prof_split") { splitDir =>
      for ((name, fn) <- Harness.queries(Some(only))) {
        def run(): Double = {
          val t0 = System.nanoTime()
          Caching.withCached(fn(spark, splitDir).queryExecution.toRdd.count())
          (System.nanoTime() - t0) / 1e9
        }
        for (_ <- 1 until runs) run()
        val r = Jobs.recorded(spark)(run())
        val (wall, covered) = (r.value, r.coveredMs / 1e3)
        System.err.println(f"%n== $name  wall=${wall}%.3fs  jobs=${r.jobs.size}" +
          f"  job-covered=${covered}%.3fs  driver-gap=${wall - covered}%.3fs" +
          s"  dropped_stages=${r.droppedStages}")
        for (j <- r.jobs)
          System.err.println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3fs" +
            f" tasks=${j.tasks}%4d taskTime=${j.taskMs / 1e3}%8.3fs" +
            f" in=${j.inputBytes / 1048576.0}%7.1fMB shufR=${j.shuffleRead / 1048576.0}%6.1fMB" +
            f" shufW=${j.shuffleWrite / 1048576.0}%6.1fMB  ${j.desc.take(80)}")
      }
    }
    spark.stop()
  }
}
