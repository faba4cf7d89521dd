package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.pipeline.ConfigPipeline

/** CLI runner for config-built pipelines — the `bin/metalpipe <config>`
  * entry point of the reference, Spark-side:
  *
  * {{{
  * sbt "runMain graft.RunPipeline <config.json> <stage> [outPath] [checkpoint] [outputMode]"
  * }}}
  *
  * Loads the JSON config, substitutes `${ENV}` placeholders
  * ([[ConfigPipeline.render]] — the reference's jinja/environment
  * templating), builds the [[graft.pipeline.Pipeline]] DAG, materializes
  * `stage`, and either writes it to parquet (`outPath` given) or prints a
  * sample. The task counters of every job the run submitted
  * ([[Jobs.recorded]]) print at the end — the reference's monitor-thread
  * table, from Spark's own counters.
  *
  * On a cluster, submit the assembly with `spark-submit --class
  * graft.RunPipeline` instead; the config and semantics are identical.
  * [[GraftSession.auto]] honors spark-submit's `--master` (builder
  * options would otherwise override it back to local), falling back to
  * a tuned local session only when no master is configured.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunPipeline <config.json> <stage> [outPath]")
    val spark = GraftSession.auto()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = Jobs.recorded(spark)(run(spark, args)).jobs
    val counters = Seq[(String, Jobs.Job => Long)]("tasks" -> (_.tasks),
      "failed_tasks" -> (_.failedTasks), "records_read" -> (_.inputRecords),
      "bytes_read" -> (_.inputBytes), "shuffle_bytes_written" -> (_.shuffleWrite),
      "shuffle_bytes_read" -> (_.shuffleRead), "executor_cpu_ns" -> (_.cpuNs))
    println(counters.map { case (k, f) => s"$k=${jobs.map(f).sum}" }
      .mkString("[graft] ", " | ", ""))
    spark.stop()
  }

  private def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(cfgPath, stage) = args.take(2)
    val outPath = args.lift(2)
    val cfg = ConfigPipeline.render(Files.readString(Paths.get(cfgPath)))
    val result = ConfigPipeline.fromJson(spark, cfg).output(stage)
    (outPath, result.isStreaming) match {
      case (Some(p), true) =>
        // streaming terminal (a `stream_dir` config source upstream):
        // drain-and-stop via AvailableNow, per-batch-id dirs so foreachBatch
        // retries stay idempotent. args(3) supplies a DURABLE checkpoint for
        // restartable runs (README contract); the temp default is for
        // bounded drains and is deleted after the drain.
        val ckpt = args.lift(3).getOrElse(
          Files.createTempDirectory("graft_ckpt").toString)
        // args(4) picks the sink output mode: "append" (default — finalized
        // rows only; windowed aggs emit as the watermark passes each window)
        // or "update" (changelog — compact drained batches by max batch id,
        // the keepBestStream pattern)
        try graft.streaming.Streams.toForeachBatch(result, ckpt,
          availableNow = true,
          outputMode = args.lift(4).getOrElse("append")) { (batch, id) =>
          batch.write.mode("overwrite").parquet(s"$p/batch_$id")
        }.awaitTermination()
        finally if (args.lift(3).isEmpty) Harness.deleteTree(Paths.get(ckpt))
        println(s"[graft] stream stage '$stage' drained -> $p" +
          args.lift(3).map(c => s" (checkpoint $c)").getOrElse(""))
      case (None, true) =>
        sys.error(s"stage '$stage' is streaming - pass an outPath to drain it")
      case (Some(p), false) =>
        // args(3) on the batch path is an optional LAYOUT directive — the
        // 100 TB write-side levers, CLI-reachable:
        //   zorder=colA,colB[,bits[,files]]   (Sinks.zorderWrite)
        //   shuffled=idCol,seed,shards        (Sinks.shuffledWrite)
        //   partitioned=colA[,colB...]        (Sinks.writePartitioned)
        writeBatch(result, p, args.lift(3))
        println(s"[graft] stage '$stage' -> $p" +
          args.lift(3).map(l => s" ($l)").getOrElse(""))
      case (None, false) =>
        result.show(20, truncate = false)
    }
  }

  /** Batch write with an optional layout directive (see main). Plain
    * overwrite parquet when no directive is given.
    */
  def writeBatch(df: org.apache.spark.sql.DataFrame, path: String,
                 layout: Option[String]): Unit =
    layout.map(_.split("=", 2)) match {
      case None =>
        df.write.mode("overwrite").parquet(path)
      case Some(Array("zorder", spec)) =>
        // columns first, then up to two TRAILING numeric knobs (bits,
        // files); `span`, not `partition` — a digit-only COLUMN name can't
        // be expressed here (use the config `zorder` stage op for those)
        val parts = spec.split(",", -1).toSeq // -1: keep (and reject) empties
        require(parts.nonEmpty && parts.forall(_.nonEmpty),
          s"zorder layout has an empty segment: '$spec'")
        val (cols, knobs) = parts.span(p => !p.forall(_.isDigit))
        require(cols.nonEmpty && knobs.size <= 2 &&
          knobs.forall(_.forall(_.isDigit)),
          s"zorder layout is cols[,bits[,files]] with knobs LAST: '$spec'")
        graft.operators.Sinks.zorderWrite(df, path, cols,
          bits = knobs.lift(0).map(_.toInt).getOrElse(8),
          numFiles = knobs.lift(1).map(_.toInt).getOrElse(64))
      case Some(Array("shuffled", spec)) =>
        spec.split(",") match {
          case Array(id, seed, shards) =>
            graft.operators.Sinks.shuffledWrite(df, path, id,
              seed.toLong, shards.toInt)
          case other => sys.error(
            s"shuffled layout needs idCol,seed,shards: $spec")
        }
      case Some(Array("partitioned", spec)) =>
        graft.operators.Sinks.writePartitioned(df, path,
          spec.split(",").toSeq)
      // bucketed=table,cols,n[,sortCols]: Hive-bucketed table (r13,
      // Sinks.writeBucketed) — the co-located-join layout; cols and
      // sortCols are +-separated so the comma stays the knob separator
      case Some(Array("bucketed", spec)) =>
        spec.split(",", -1).toSeq match {
          case Seq(table, cols, n) if n.forall(_.isDigit) && n.nonEmpty =>
            graft.operators.Sinks.writeBucketed(df, table, path,
              cols.split("\\+").toSeq, n.toInt)
          case Seq(table, cols, n, sortCols)
              if n.forall(_.isDigit) && n.nonEmpty =>
            graft.operators.Sinks.writeBucketed(df, table, path,
              cols.split("\\+").toSeq, n.toInt,
              sortCols = sortCols.split("\\+").toSeq)
          case _ => sys.error(
            s"bucketed layout needs table,colA[+colB],n[,sortA[+sortB]]: $spec")
        }
      // bloom=cols[,ndv]: parquet row-group bloom filters on the named
      // columns — the point-lookup layout for scattered id probes
      // (Sinks.writeClustered's r11 lever; plans/LAYOUT.md)
      case Some(Array("bloom", spec)) =>
        val parts = spec.split(",", -1).toSeq
        require(parts.nonEmpty && parts.forall(_.nonEmpty),
          s"bloom layout has an empty segment: '$spec'")
        val (cols, knobs) = parts.span(p => !p.forall(_.isDigit))
        require(cols.nonEmpty && knobs.size <= 1,
          s"bloom layout is cols[,ndv] with the knob LAST: '$spec'")
        graft.operators.Sinks.writeClustered(df, path, Nil, Nil,
          bloomFilterCols = cols,
          bloomNdv = knobs.headOption.map(_.toLong).getOrElse(0L))
      case Some(other) => sys.error(
        s"unknown layout directive '${layout.get}' — expected " +
          "zorder=cols[,bits[,files]] | shuffled=id,seed,shards | " +
          "partitioned=cols | bloom=cols[,ndv] | " +
          "bucketed=table,cols,n[,sortCols]")
    }
}
