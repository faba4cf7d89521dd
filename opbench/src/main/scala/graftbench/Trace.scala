package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into graft, with Spark jobs, stages
  * and tasks attached to them. Spans live in memory until [[report]].
  *
  * A span sets the local property [[SpanKey]] on its thread, so every job
  * submitted inside it carries the span id; jobs of a micro-batch that no
  * benchmark span encloses are attached to a synthetic per-batch span of
  * the `streaming` layer, built from the query's progress events. A stage
  * is attributed through the stage→job map filled at job start; a stage
  * that map does not know is counted and dropped, never guessed.
  *
  * A disabled tracer (`enabled = false`) runs every body untouched and
  * installs no listener: the end-to-end runs measure without it.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  // per-thread switch for alternating traced and untraced ops in one run
  private val on = new ThreadLocal[Boolean] { override def initialValue() = true }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  val droppedStages = new AtomicInteger(0)
  @volatile private var flushLatch: CountDownLatch = null

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      if (prop(FlushKey).isEmpty) {
        val key = prop(SpanKey).orElse(for {
          q <- prop(QueryIdKey); b <- prop(BatchIdKey)
        } yield batchKey(q, b))
        key.foreach(k => jobs.put(e.jobId,
          new JobRec(k, e.time, e.stageInfos.map(_.name).toList)))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (!stageJob.containsKey(si.stageId)) droppedStages.incrementAndGet()
      else {
        val j = jobs.get(stageJob.get(si.stageId))
        if (j != null && si.taskMetrics != null) j.synchronized {
          j.taskMs += si.taskMetrics.executorRunTime
          j.shuffleBytes += si.taskMetrics.shuffleReadMetrics.totalBytesRead +
            si.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  // always attached, and sees only the flush marker job: the bus delivers
  // each event to every listener of its queue in order, so when the marker
  // ends here every earlier event has reached [[listener]] too (or, while
  // it is detached, has passed it by)
  private val marker = new SparkListener {
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) Option(flushLatch).foreach(_.countDown())
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(FlushKey) != null)) markerJob = e.jobId
  }
  @volatile private var markerJob = -1

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      if (p.numInputRows > 0)
        batches.add(Batch(p.id.toString, p.batchId, start,
          start + ms("triggerExecution"), ms("addBatch")))
    }
  }

  if (enabled) {
    sc.addSparkListener(marker)
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` with spans on (`traced`) or off for this thread. */
  def tracing[A](traced: Boolean)(body: => A): A = {
    val prev = on.get
    on.set(traced)
    try body finally on.set(prev)
  }

  def isOn: Boolean = enabled && on.get

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled || !on.get) body
    else {
      val parent = stack.get.headOption.map(_.key).orElse(for {
        q <- Option(sc.getLocalProperty(QueryIdKey))
        b <- Option(sc.getLocalProperty(BatchIdKey))
      } yield batchKey(q, b)).getOrElse("")
      val s = new Span(s"s${nextId.incrementAndGet()}", parent, layer, name,
        System.currentTimeMillis())
      val prevProp = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.key)
      stack.set(s :: stack.get)
      try body
      finally {
        s.end = System.currentTimeMillis()
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanKey, prevProp)
        spans.add(s)
      }
    }

  /** Run `body` with the job listener attached (`on`) or detached. The
    * listener is detached and re-attached only once every event before the
    * switch has been delivered, so no traced job loses its events and no
    * untraced stage reaches the listener.
    */
  def listening[A](on: Boolean)(body: => A): A =
    if (!enabled || on) body
    else {
      drainBus()
      sc.removeSparkListener(listener)
      try body
      finally { drainBus(); sc.addSparkListener(listener) }
    }

  /** Block until the listener has seen every job submitted before this
    * call, then give the streaming queue a moment to deliver the last
    * progress events.
    */
  def flush(): Unit = if (enabled) {
    drainBus()
    Thread.sleep(500)
  }

  /** One marker job; returns once [[marker]] has seen it end. */
  private def drainBus(): Unit = {
    flushLatch = new CountDownLatch(1)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, null)
    sc.setLocalProperty(FlushKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(FlushKey, null)
      sc.setLocalProperty(SpanKey, prev)
    }
    flushLatch.await(20, TimeUnit.SECONDS)
  }

  def stop(): Unit = if (enabled) {
    sc.removeSparkListener(marker)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Micro-batches seen in progress events: (query id, addBatch ms). */
  def batchDurations: Seq[(String, Long)] =
    batches.asScala.toSeq.map(b => (b.query, b.addBatchMs))

  /** Per call of the spans named `name`, the jobs that pin a lineage cut
    * (`localCheckpoint`): graft's iterative operators pin once per round.
    */
  def pinsPerCall(name: String): Seq[Int] = {
    val byKey = jobs.values.asScala.toSeq.groupBy(_.key)
    spans.asScala.toSeq.filter(_.name == name).map(s => byKey.getOrElse(s.key, Nil)
      .count(_.stageNames.exists(_.startsWith("localCheckpoint"))))
  }

  /** Per-layer totals over every recorded span: calls, self time (span
    * time minus child-span time), jobs attached, driver gap (self time not
    * covered by any of the span's own jobs), summed task time, shuffle MB.
    */
  def report(): Map[String, Double] = {
    val all: Seq[Span] = spans.asScala.toSeq ++ batches.asScala.toSeq.map { b =>
      val s = new Span(batchKey(b.query, b.batchId.toString), "", "streaming",
        "micro-batch", b.startMs)
      s.end = b.endMs
      s
    }
    val childMs = all.groupBy(_.parent).map { case (k, cs) => k -> cs.map(_.dur).sum }
    val jobsBySpan = jobs.values.asScala.toSeq.filter(_.end >= 0).groupBy(_.key)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (l <- Layers; f <- LayerFields) out(s"$l.$f") = 0.0
    def add(k: String, v: Double): Unit = out(k) = out(k) + v
    for (s <- all if Layers.contains(s.layer)) {
      val self = math.max(0L, s.dur - childMs.getOrElse(s.key, 0L))
      val js = jobsBySpan.getOrElse(s.key, Nil)
      add(s"${s.layer}.calls", 1)
      add(s"${s.layer}.self_s", self / 1e3)
      add(s"${s.layer}.jobs", js.size)
      add(s"${s.layer}.driver_gap_s",
        math.max(0L, self - covered(js, s.start, s.end)) / 1e3)
      add(s"${s.layer}.task_s", js.map(_.taskMs).sum / 1e3)
      add(s"${s.layer}.shuffle_mb", js.map(_.shuffleBytes).sum / 1048576.0)
    }
    out.toMap
  }
}

object Trace {
  val Layers: Seq[String] = Seq("sources", "pipeline", "operators", "json",
    "functions", "dedup", "similarity", "streaming", "caching")
  val LayerFields: Seq[String] =
    Seq("calls", "self_s", "jobs", "driver_gap_s", "task_s", "shuffle_mb")

  val SpanKey = "graftbench.span"
  private val FlushKey = "graftbench.flush"
  private val QueryIdKey = "sql.streaming.queryId"
  private val BatchIdKey = "streaming.sql.batchId"

  private def batchKey(q: String, b: String) = s"q:$q:$b"

  private final class Span(val key: String, val parent: String,
                           val layer: String, val name: String,
                           val start: Long) {
    @volatile var end: Long = start
    def dur: Long = end - start
  }

  private final class JobRec(val key: String, val start: Long,
                             val stageNames: List[String]) {
    @volatile var end: Long = -1L
    var taskMs: Long = 0L
    var shuffleBytes: Long = 0L
  }

  private final case class Batch(query: String, batchId: Long, startMs: Long,
                                 endMs: Long, addBatchMs: Long)

  /** Union length of the jobs' [start, end] intervals clipped to [lo, hi]. */
  private def covered(js: Seq[JobRec], lo: Long, hi: Long): Long = {
    val iv = js.map(j => (math.max(lo, j.start), math.min(hi, j.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    for ((a, b) <- iv) {
      if (a > curE) { total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    total + (curE - curS)
  }
}
