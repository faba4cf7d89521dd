package graft

import java.nio.file.{Files, Paths}

import scala.util.{Failure, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The two committed plan budgets of every SparkEntry query, measured in
  * ONE planning pass — the data behind [[PlanBudgetSpec]] and
  * [[FusionBudgetSpec]]:
  *
  *  - `exchange_budgets.tsv`: shuffle exchanges on the UNEXECUTED plan
  *    ([[PlanAudit.countExchanges]]). An accidental exchange — a de-fused
  *    projection re-planning as a shuffle, a broadcast degrading to a
  *    shuffle join — fails `sbt test` instead of surfacing as a bench
  *    regression a round later.
  *  - `fusion_budgets.tsv`: Project / Filter / HashAggregate nodes running
  *    OUTSIDE whole-stage codegen on the FINAL plan. That failure class is
  *    silent: one CodegenFallback expression de-fuses a projection chain
  *    and the query just runs interpreted (+112% on q_json_schema when the
  *    r12 items check first shipped as a HOF, plans/FUSION.md). Fusion
  *    markers exist only once AQE has finalized the stages, so the pass
  *    executes every query (the Bench materialization shape,
  *    `toRdd.count`).
  *
  * Per query, in name order: build the frame once, count exchanges, run
  * it, count unfused nodes, drain its tracked persists. Regenerate after
  * an INTENDED plan change with `sbt "Test/runMain graft.Budgets"` (it
  * runs on [[TestSession]], the session the spec checks under), review
  * the diff — a row's count DROPPING is a win worth keeping, one RISING
  * needs the FUSION.md triage — and commit.
  */
object Budgets {

  /** One query's measurements; a failure to build the frame fails both. */
  final case class Row(name: String, exchanges: Try[Int],
                       fusion: Try[(Int, Int, String)])

  private val rowNode = """(?:\*\s)?(?:Project|Filter|HashAggregate) \(\d+\)""".r
  private val fusedNode = """\*\s(?:Project|Filter|HashAggregate) \(\d+\)""".r

  /** (unfused, total, unfused-op histogram) over a FormattedMode plan
    * string — FINAL tree only: AQE's formatted output appends the
    * "== Initial Plan ==" tree (never starred — it predates execution)
    * and then the node details; both would inflate the unfused count.
    */
  def unfusedCounts(plan: String): (Int, Int, String) = {
    val tree = plan.linesIterator
      .takeWhile(l => !l.startsWith("(1)") &&
        !l.contains("== Initial Plan ==")).mkString("\n")
    val total = rowNode.findAllIn(tree).size
    val fusedN = fusedNode.findAllIn(tree).size
    val ops = rowNode.findAllIn(tree).toSeq
      .filterNot(_.startsWith("*")).map(_.takeWhile(_ != ' '))
      .groupBy(identity).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k:${v.size}" }.mkString(",")
    (total - fusedN, total, ops)
  }

  def measure(spark: SparkSession, sfDir: String): Seq[Row] =
    Harness.queries(None).map { case (name, fn) =>
      Caching.withCached {
        Try(fn(spark, sfDir)).fold(e => Row(name, Failure(e), Failure(e)),
          { df =>
            val qe = df.queryExecution
            val exchanges = Try(
              PlanAudit.countExchanges(qe.explainString(FormattedMode)))
            val fusion = Try {
              qe.toRdd.count()
              unfusedCounts(qe.explainString(FormattedMode))
            }
            Row(name, exchanges, fusion)
          })
      }
    }

  private def exchangeLine(r: Row): String =
    s"${r.name}\t${r.exchanges.fold(_ => "FAILED", _.toString)}"

  private def fusionLine(r: Row): String = r.name + "\t" + r.fusion.fold(
    e => s"FAILED\tFAILED\t${e.getClass.getSimpleName}",
    { case (unfused, total, ops) => s"$unfused\t$total\t$ops" })

  /** args: [sfDir] [resourceDir] — defaults: the fixture the spec checks
    * against, and the committed `src/test/resources`.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(new PlanBudgetSpec().sfDir)
    val outDir = args.lift(1).getOrElse("src/test/resources")
    val spark = TestSession.spark
    spark.sparkContext.setLogLevel("ERROR")
    val rows = measure(spark, sfDir)
    rows.foreach(r => (r.exchanges.failed.toOption
      .orElse(r.fusion.failed.toOption)).foreach(e => System.err.println(
        s"[budgets] ${r.name} FAILED: ${String.valueOf(e.getMessage).take(200)}")))
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "exchange_budgets.tsv"),
      rows.map(exchangeLine(_) + "\n").mkString)
    Files.writeString(Paths.get(outDir, "fusion_budgets.tsv"),
      rows.map(fusionLine(_) + "\n").mkString)
    println(s"wrote $outDir/exchange_budgets.tsv and $outDir/fusion_budgets.tsv")
    spark.stop()
  }
}
