package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for graft.
  *
  * The reference (zacernst/metalpipe) runs one thread per pipeline node with
  * bounded queues between them (`metalpipe/node.py:102`); Spark supplies the
  * equivalent execution substrate (stages, shuffles, AQE) cluster-wide, so the
  * only thing graft needs to own is sensible session tuning.
  *
  * Scale posture: shuffle partitions are sized from the environment (32 in
  * the local test harness, thousands on a real cluster) and AQE is left on so
  * runtime statistics can coalesce/re-split them and handle skewed joins.
  */
object GraftSession {

  /** The RocksDB state-store provider — the LARGE-STATE default for the
    * stateful streaming twins (keep-best, LSH buckets, winnow owners,
    * heavy hitters): the default HDFS-backed provider holds every key's
    * state on the executor HEAP, so at 100× the per-key state (G44's
    * print universe, G42's key domain) it outgrows executor memory where
    * RocksDB spills to local disk with bounded block-cache memory. Opt in
    * per session via [[useRocksDbStateStore]] or fleet-wide via
    * `SPARK_GRAFT_STATESTORE=rocksdb` (read by [[tune]]); the provider is
    * a stream-START conf, so set it before `writeStream.start()`.
    * Correctness is provider-independent (the full streaming suite runs
    * green under it — StreamsRocksDbSpec; per-query deltas in
    * plans/BENCHNOTES.md r13).
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Switch this session's stateful streams to the RocksDB state store. */
  def useRocksDbStateStore(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      RocksDbProvider)
    spark
  }

  /** Runtime confs graft depends on; safe to (re)apply to a live session. */
  def tune(spark: SparkSession): SparkSession = {
    val conf = spark.conf
    // large-state opt-in (see [[RocksDbProvider]]): env-selectable so the
    // whole suite/bench can run under RocksDB without code changes
    if (sys.env.get("SPARK_GRAFT_STATESTORE").contains("rocksdb"))
      conf.set("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
    // swap-protocol opt-in (r14, see [[graft.operators.Sinks.swapWrite]]):
    // rename | pointer | auto — env-selectable so the whole suite/bench
    // can run the object-store-safe generation-pointer protocol without
    // code changes (the full suite runs green under it; BENCHNOTES r14)
    sys.env.get("SPARK_GRAFT_SWAP").foreach(p =>
      conf.set("spark.graft.swap.protocol", p))
    // TIMESTAMP(NANOS) parquet (the `events` table) is rejected by the
    // vectorized reader; read the raw int64 and convert (see Tables.events).
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // ObjectHashAggregate (every TypedImperativeAggregate: TopKStruct,
    // collect_list tails) falls back to SORT-based aggregation past this
    // many distinct groups per task — Spark's default of 128 silently
    // re-introduces a per-partition sort for any top-k-per-query ranking
    // with more than 128 queries, the exact cost the bounded aggregate
    // exists to avoid. Each group's state here is a k-sized heap, so
    // 64k hash entries are a few MB, nowhere near executor pressure.
    conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
    // wide fixture plans (the 225-query registry's widest projections)
    // trip SparkStringUtils' "Truncated the string representation" WARN
    // at the default of 25 fields — a pure logging knob (plan-string
    // rendering), so raising it costs nothing at any scale and keeps the
    // bench artifact tail log-free (r14 verdict task 6).
    conf.set("spark.sql.debug.maxToStringFields", "2000")
    // FileStreamSink.hasMetadata logs a FULL FileNotFoundException stack
    // trace at WARN every time a batch read opens a glob path (our
    // stream queries' `read.parquet(".../batch_*")` drain shape) — pure
    // noise that buried the r11 bench artifact's JSON tail. Benign by
    // construction (the probe just means "not a streaming-sink dir"), so
    // that ONE logger is raised to ERROR; everything else keeps the
    // session's level.
    // ResolveWriteToStream WARNs once per stream start that AQE is
    // disabled for streaming queries (it always is — not actionable), and
    // MicroBatchExecution WARNs on every empty-trigger housekeeping path;
    // with ~40 streaming queries per bench run these two were the entire
    // WARN tail of the archived artifact. Benign and unactionable by
    // construction, so both are raised to ERROR alongside FileStreamSink.
    // WindowExec WARNs "No Partition Defined for Window" on every task of
    // the DOCUMENTED global-window oracle-parity paths (Ops.batch/pack's
    // single-partition global forms); the scale paths are keyed and never
    // hit it, so the per-task spam carries no information either.
    try Seq(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
      "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
      // the message lives in WindowExecBase but Spark's Logging names the
      // logger after the CONCRETE class — cover both spellings
      "org.apache.spark.sql.execution.window.WindowExec",
      "org.apache.spark.sql.execution.window.WindowExecBase"
    ).foreach(l => org.apache.logging.log4j.core.config.Configurator.setLevel(
      l, org.apache.logging.log4j.Level.ERROR))
    catch { case _: Throwable => () } // a non-log4j2 binding: skip, cosmetic
    spark
  }

  /** Session for CLI mains ([[graft.RunPipeline]]): respects an
    * externally-supplied master, so `spark-submit --master yarn --class
    * graft.RunPipeline` actually runs on the cluster — spark-submit places
    * `spark.master` in the driver's system properties, and a builder that
    * forced `.master("local[N]")` would silently override it back to
    * single-node. Only when NO master is configured anywhere does this
    * fall back to [[local]].
    */
  def auto(): SparkSession =
    if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER"))
      tune(SparkSession.builder().appName("graft")
        .withExtensions(new org.apache.spark.sql.graftglue.GraftExtensions)
        .getOrCreate())
    else local()

  /** Local session for tests / tools. On a cluster the user brings their own
    * session; `tune` is all graft needs applied to it.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession =
    local(cores, s"local[$cores]")

  /** [[local]]'s session under another `master` — e.g.
    * `local-cluster[2,16,4096]`, whose separate executor JVMs catch
    * serialization and broadcast-lifecycle bugs `local[N]` cannot.
    * `cores` still sizes the shuffle partitions.
    */
  def local(cores: Int, master: String): SparkSession =
    tune(
      SparkSession
        .builder()
        .master(master)
        .appName("graft")
        // SQL names + the FuseCountInSet rule for config/SQL pipelines
        // (see graftglue.GraftExtensions; a pre-existing session keeps its
        // own extensions — document spark.sql.extensions for that path)
        .withExtensions(new org.apache.spark.sql.graftglue.GraftExtensions)
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
}
