package graft

import org.apache.spark.scheduler._

/** Per-query profiling harness for the optimization rounds (guide §1:
  * measure first). Shares [[Bench]]'s environment through [[Harness]] —
  * same session, same split-fixture basis, same `toRdd.count()`
  * materialization —
  * then, for each named query, reports where the wall time went:
  *
  *   - per-JOB wall spans (job id, duration, #tasks, summed task time,
  *     shuffle read/write bytes) in submission order, so iterative
  *     operators show their round structure;
  *   - the DRIVER GAP: wall time not covered by any running job —
  *     planning, collect-side work, file listing, checkpoint bookkeeping.
  *
  * Usage: `SPARK_GRAFT_ONLY=q_a,q_b sbt "runMain graft.Prof"` (same env
  * contract as Bench; SPARK_GRAFT_PROF_RUNS overrides the 2-run default —
  * the report is from the LAST run, warm like Bench's min-of-2).
  * Output goes to stderr (human-readable), nothing to stdout.
  */
object Prof {
  private final case class JobRow(id: Int, start: Long, var end: Long = 0L,
                                  var tasks: Int = 0, var taskMs: Long = 0L,
                                  var shufR: Long = 0L, var shufW: Long = 0L,
                                  var inB: Long = 0L, desc: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROF_RUNS", "2").toInt
    val only = Harness.only
      .getOrElse(sys.error("set SPARK_GRAFT_ONLY to the queries to profile"))
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    Harness.warmup(spark, sfDir)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Int]())
    // stageId → jobId, built at onJobStart: stages are attributed to the
    // job that REGISTERED them. A stage with no mapping is counted and
    // dropped — charging it to the most recently started job would
    // misattribute tasks/bytes whenever jobs overlap (streaming drains).
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val droppedStages = new java.util.concurrent.atomic.AtomicInteger
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (collecting) {
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobs.put(e.jobId, JobRow(e.jobId, e.time, desc = d))
          e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
          order.add(e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = e.stageInfo
          val j = if (stageJob.containsKey(si.stageId))
            jobs.get(stageJob.get(si.stageId)) else null
          if (j == null) droppedStages.incrementAndGet()
          else {
            j.tasks += si.numTasks
            j.taskMs += si.taskMetrics.executorRunTime
            j.shufR += si.taskMetrics.shuffleReadMetrics.totalBytesRead
            j.shufW += si.taskMetrics.shuffleWriteMetrics.bytesWritten
            j.inB += si.taskMetrics.inputMetrics.bytesRead
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    Harness.withSplitFixture(spark, sfDir, cpus, "graft_prof_split") { splitDir =>
      for ((name, fn) <- Harness.queries(Some(only))) {
        var wall = 0.0
        for (i <- 1 to runs) {
          jobs.clear(); order.clear(); stageJob.clear(); droppedStages.set(0)
          collecting = i == runs
          val t0 = System.nanoTime()
          Caching.withCached(fn(spark, splitDir).queryExecution.toRdd.count())
          wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // let the listener bus drain the last job events
        }
        // merge job spans into covered wall time (jobs can overlap under
        // concurrent streams; union of intervals)
        import scala.jdk.CollectionConverters._
        val rows = order.asScala.toSeq.distinct.flatMap(id => Option(jobs.get(id)))
          .filter(_.end > 0)
        val spans = rows.map(j => (j.start, j.end)).sortBy(_._1)
        var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
        for ((s0, e0) <- spans) {
          if (s0 > curE) { covered += curE - curS max 0; curS = s0; curE = e0 }
          else if (e0 > curE) curE = e0
        }
        covered += (curE - curS) max 0
        System.err.println(f"%n== $name  wall=${wall}%.3fs  jobs=${rows.size}" +
          f"  job-covered=${covered / 1e3}%.3fs  driver-gap=${wall - covered / 1e3}%.3fs" +
          s"  dropped_stages=${droppedStages.get}")
        for (j <- rows)
          System.err.println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3fs" +
            f" tasks=${j.tasks}%4d taskTime=${j.taskMs / 1e3}%8.3fs" +
            f" in=${j.inB / 1048576.0}%7.1fMB shufR=${j.shufR / 1048576.0}%6.1fMB" +
            f" shufW=${j.shufW / 1048576.0}%6.1fMB  ${j.desc.take(80)}")
      }
    }
    spark.stop()
  }
}
