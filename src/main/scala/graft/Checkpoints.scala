package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage pinning for ITERATIVE operators (PageRank, Datalog closure,
  * dup-cluster pointer jumping, k-means, BPE merge rounds, bigram LM):
  * each round's frame must cut its lineage or plans grow without bound.
  *
  * Two pinning modes, switched by the STANDARD Spark knob
  * `sparkContext.setCheckpointDir(...)` — no graft-specific API:
  *
  *  - no checkpoint dir (local default): eager `localCheckpoint(true)` —
  *    blocks live on executors with NO lineage, the fastest cut. The
  *    trade: on a real cluster a lost executor makes those blocks
  *    unrecoverable and kills the job mid-fixpoint.
  *  - checkpoint dir set (cluster posture): eager RELIABLE
  *    `checkpoint()` — blocks persist to the fault-tolerant store
  *    (HDFS/S3), so executor loss costs a re-read, not the whole run.
  *    At a 1000-executor scale where SOME executor loss per hour is the
  *    expected case, this is the difference between a retry and a rerun.
  *
  * Rule of thumb: set the dir whenever the cluster is big enough or the
  * fixpoint long enough that losing an executor mid-iteration is likelier
  * than the extra write cost matters. Answers are identical either way —
  * pinned in `GraphSpec`.
  */
object Checkpoints {

  /** Eagerly pin `df`, reliably iff a checkpoint dir is configured.
    *
    * The reliable path persists BEFORE checkpointing (Spark's own
    * `RDD.checkpoint` guidance): the checkpoint write re-runs the lineage
    * after the eager action, so an unpersisted frame would compute every
    * round twice — in exactly the at-scale mode the knob exists for. The
    * cache is dropped as soon as the checkpoint files back the result.
    * For long fixpoints set `spark.cleaner.referenceTracking
    * .cleanCheckpoints=true` so superseded round files are removed.
    */
  def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = cached.checkpoint(true)
      cached.unpersist()
      out
    } else df.localCheckpoint(true)

  /** Drop the blocks behind a frame [[pin]] returned, once nothing reads
    * it: an iterative loop releases a round as soon as the next round's
    * eager pin has materialized, since that pin no longer reads it. A
    * released local checkpoint cannot be recomputed, so a frame that
    * still reads it fails. Reliable checkpoint files are left to Spark's
    * cleaner.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** The driver/Spark split of an iterative operator whose state usually
    * fits the driver: `onDriver` on the rows of `state` when there are at
    * most `ceiling` of them and it returns Some, else `onSpark` on `state`
    * pinned. `state` is planned and its shuffle stages run once: the
    * bounded take runs `state`'s own physical plan, which the pin then
    * reuses with its shuffle output and its size statistics, so an input
    * above the ceiling is not scanned twice and plans the same joins.
    * The take's jobs are labeled "`label`: driver", the pin's
    * "`label`: spark"; `onSpark` labels its own.
    */
  def onDriverOrPinned[T](state: DataFrame, ceiling: Int, label: String)(
      onDriver: Array[Row] => Option[T])(onSpark: DataFrame => T): T = {
    val spark = state.sparkSession
    val toRow = CatalystTypeConverters.createToScalaConverter(state.schema)
    val rows = Jobs.labeled(spark, s"$label: driver") {
      state.queryExecution.executedPlan.executeTake(ceiling + 1).map(toRow(_).asInstanceOf[Row])
    }
    (if (rows.length <= ceiling) onDriver(rows) else None).getOrElse {
      onSpark(Jobs.labeled(spark, s"$label: spark")(state.pinned()))
    }
  }

  /** `.pinned()` chain syntax so call sites read like the plan they build. */
  implicit final class PinSyntax(private val df: DataFrame) extends AnyVal {
    def pinned(): DataFrame = pin(df)
  }
}
