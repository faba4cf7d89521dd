package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job labeling and job recording.
  *
  * [[labeled]] (guide §1.5): multi-action operators set a description per
  * action so profiles and the UI attribute wall time to the right step.
  * Thread-local, restored on exit — safe under the concurrent-drain
  * streaming paths.
  *
  * [[recorded]] is graft's one job listener: [[Prof]]'s per-job rows,
  * [[RunPipeline]]'s end-of-run counters and the specs' job counts all
  * read it.
  */
object Jobs {
  def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** One Spark job a [[recorded]] body submitted. `site` is the result
    * stage's name (the call site, e.g. "parquet at Streams.scala:853"),
    * `desc` its `spark.job.description`; `start`/`end` are epoch ms (`end`
    * is -1 while the job runs). The counters sum every task end of the
    * stages the job registered: executor run time (`taskMs`) and CPU time
    * (`cpuNs`), input bytes and records, shuffle bytes read and written.
    */
  final case class Job(id: Int, site: String, desc: String, start: Long) {
    var end = -1L
    var tasks, failedTasks, taskMs, cpuNs = 0L
    var inputBytes, inputRecords, shuffleRead, shuffleWrite = 0L
  }

  /** `body`'s value and its jobs in id order. `droppedStages` counts the
    * stages that completed during the scope but belong to no job the
    * recorder saw start; their tasks are charged to no job.
    */
  final case class Recorded[T](value: T, jobs: Seq[Job], droppedStages: Int) {
    /** Wall ms covered by at least one finished job (the union of the job
      * intervals; jobs overlap under concurrent streams).
      */
    def coveredMs: Long = {
      var covered = 0L; var curS = 0L; var curE = 0L
      for (j <- jobs.filter(_.end >= 0).sortBy(_.start)) {
        if (j.start > curE) { covered += curE - curS; curS = j.start; curE = j.end }
        else if (j.end > curE) curE = j.end
      }
      covered + curE - curS
    }
  }

  private val ScopeKey = "graft.jobs.scope"
  private val scopes = new AtomicLong

  /** Run `body` and record every Spark job it submits.
    *
    * A job is `body`'s when it carries this scope's tag, a local property
    * set on `body`'s thread and inherited by the threads it starts (stream
    * execution, AQE and broadcast threads), so a streaming query started
    * inside the scope is recorded and a thread started before it is not.
    * Scopes nest: a job carries the tags of every enclosing scope. A stage
    * is charged to the job that registered it at job start; a stage no
    * seen job registered is counted in `droppedStages`, never guessed.
    *
    * When `body` returns, one marker job without this scope's tag fences
    * the asynchronous listener bus: the listener releases a latch at the
    * marker's start, which it sees after every earlier event, so the
    * result is complete when this returns and needs no sleep. The listener
    * is detached either way.
    */
  def recorded[T](spark: SparkSession)(body: => T): Recorded[T] = {
    val sc = spark.sparkContext
    val id = s"s${scopes.incrementAndGet()}"
    val fence = s"$id-fence"
    val jobs = TrieMap.empty[Int, Job]
    val stageJob = TrieMap.empty[Int, Int]
    val dropped = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
        val p = Option(e.properties)
        val tags = p.flatMap(x => Option(x.getProperty(ScopeKey))).toSeq.flatMap(_.split(','))
        if (tags.contains(id)) jobs.put(e.jobId, Job(e.jobId,
          e.stageInfos.maxByOption(_.stageId).fold("")(_.name),
          p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse(""),
          e.time))
        if (tags.contains(fence)) fenced.countDown()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (!stageJob.contains(e.stageInfo.stageId)) dropped.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
          j.tasks += 1
          if (e.taskInfo != null && !e.taskInfo.successful) j.failedTasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.taskMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.inputBytes += m.inputMetrics.bytesRead
            j.inputRecords += m.inputMetrics.recordsRead
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          }
        }
    }
    val outer = Option(sc.getLocalProperty(ScopeKey))
    def tag(t: String): Unit = sc.setLocalProperty(ScopeKey, outer.fold(t)(o => s"$o,$t"))
    sc.addSparkListener(listener)
    try {
      tag(id)
      val value = try body finally tag(fence)
      sc.parallelize(Seq(1), 1).count()
      if (!fenced.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus did not deliver the marker job")
      Recorded(value, jobs.values.toSeq.sortBy(_.id), dropped.get)
    } finally {
      sc.setLocalProperty(ScopeKey, outer.orNull)
      sc.removeSparkListener(listener)
    }
  }
}
