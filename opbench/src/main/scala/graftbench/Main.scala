package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** One measured run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints one line per timing (value, unit,
  * sample count, percentile), diagnostic lines, and as its LAST stdout line
  * the result JSON: end-to-end metrics when `--trace 0`, per-layer metrics
  * when `--trace 1`. Exits 3 without a result when a timing has too few
  * samples for a tail.
  */
object Main {
  /** Spark's local parallelism: fixed, so every run has the same shape. */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try run(a("workload"), a("seed").toLong, a("seconds").toInt,
        a("trace") == "1", a("work"))
      catch {
        case e: Stats.TooFewSamples => System.err.println(s"[opbench] ${e.getMessage}"); 3
        case e: Throwable => e.printStackTrace(); 1
      }
    System.exit(code)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** A fixed-shape job timed before the window (median of 3): reported as
    * a diagnostic of machine load, not as a metric.
    */
  private def loadProbeMs(spark: org.apache.spark.sql.SparkSession): Double = {
    val xs = (0 until 3).map { _ =>
      Common.timeS(spark.range(0, 2000000, 1, Cores)
        .selectExpr("sum(id * id % 7)").collect())._2 * 1e3
    }
    Stats.median(xs)
  }

  private def run(workload: String, seed: Long, seconds: Int, trace: Boolean,
                  work: String): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(Cores)
    spark.sparkContext.setLogLevel("ERROR")
    val bootS = (System.currentTimeMillis() - jvmStart) / 1e3
    val loadMs = loadProbeMs(spark)
    val tr = new Trace(spark, trace)
    val ctx = Ctx(spark, work, seed, seconds, tr)
    val gc0 = gcMs()
    val r = workload match {
      case "etl_batch"    => EtlBatch.run(ctx)
      case "index_probe"  => IndexProbe.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gcS = (gcMs() - gc0) / 1e3
    val layers = if (trace) tr.report() else Map.empty[String, Double]
    tr.stop()
    val (_, stopS) = Common.timeS(spark.stop())
    println(f"diag stop_s=$stopS%.3f")

    val op = Stats.dist("op", r.op)
    val probe = Stats.dist("probe", r.probe)
    println(f"diag load_probe_ms=$loadMs%.1f boot_s=$bootS%.3f setup_workload_s=${r.setupS}%.3f " +
      f"window_s=${r.windowS}%.3f attempted=${r.attempted} ok=${r.ok}")
    def timing(name: String, unit: String, v: Double, d: Stats.Dist, tail: Boolean): Unit =
      println(s"timing $name value=$v unit=$unit n=${d.n} " +
        (if (tail) s"percentile=p${d.tailPct} beyond=${d.beyond}" else "percentile=p50"))
    timing("op_p50_s", "s", op.p50, op, tail = false)
    timing("op_tail_s", "s", op.tail, op, tail = true)
    timing("probe_p50_ms", "ms", probe.p50, probe, tail = false)
    timing("probe_tail_ms", "ms", probe.tail, probe, tail = true)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", bootS + r.setupS, "s"),
        ("op_p50_s", op.p50, "s"),
        ("op_tail_s", op.tail, "s"),
        ("records_per_s", r.records / r.windowS, "1/s"),
        ("probe_p50_ms", probe.p50, "ms"),
        ("probe_tail_ms", probe.tail, "ms"),
        ("ok_share", r.ok.toDouble / r.attempted, "share"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      else {
        val (traced, untraced) = r.overhead
        // rounds per call: one lineage pin per round plus the input's pin
        def rounds(span: String): Double = {
          val pins = tr.pinsPerCall(span)
          if (pins.isEmpty) 0.0 else Stats.median(pins.map(p => math.max(0, p - 1).toDouble))
        }
        val all = layers ++ r.layers ++ Map(
          "json.closure_rounds" -> rounds("MtlParser.inferTransitive"),
          "functions.bpe_rounds" -> rounds("Bpe.train"),
          "jvm.gc_s" -> gcS,
          "trace.overhead_share" -> Stats.median(traced) / Stats.median(untraced),
          "trace.dropped_stages" -> tr.droppedStages.get.toDouble)
        LayerMetrics.all.map { case (name, unit) => (name, all.getOrElse(name, 0.0), unit) }
      }
    val body = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.attempted - r.ok}, "metrics": {$body}}""")
    0
  }
}

/** Every per-layer metric a traced run prints, with its unit. */
object LayerMetrics {
  private val fieldUnits = Map("calls" -> "count", "self_s" -> "s", "jobs" -> "count",
    "driver_gap_s" -> "s", "task_s" -> "s", "shuffle_mb" -> "MB")

  val all: Seq[(String, String)] =
    (for (l <- Trace.Layers; f <- Trace.LayerFields) yield (s"$l.$f", fieldUnits(f))) ++ Seq(
      "json.closure_rounds" -> "count",
      "functions.bpe_rounds" -> "count",
      "dedup.admitted_share" -> "share",
      "streaming.batches" -> "count",
      "streaming.batch_p50_s" -> "s",
      "caching.peak_persisted_mb" -> "MB",
      "caching.left_after_drain" -> "count",
      "jvm.gc_s" -> "s",
      "trace.overhead_share" -> "ratio",
      "trace.dropped_stages" -> "count")
}
