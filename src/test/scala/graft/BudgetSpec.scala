package graft

/** The every-SparkEntry-query plan-budget gates: each query's shuffle
  * exchanges ([[PlanBudgetSpec]]) and unfused row nodes
  * ([[FusionBudgetSpec]]) are pinned against the committed
  * `exchange_budgets.tsv` and `fusion_budgets.tsv`. Both read the rows of
  * ONE [[Budgets]] pass under the session that wrote the tsvs: whichever
  * spec runs first measures, the other reuses its rows. Budgets are
  * exact, not ≤: LOSING an exchange or an unfused node unexpectedly also
  * deserves a look (it usually means a broadcast threshold or plan reuse
  * changed under the query). PlanSpec keeps the annotated headline
  * exchange subset for fast iteration.
  */
abstract class BudgetSpec(file: String) extends SparkSpec {

  /** query → its first budget column, from the committed tsv. */
  protected lazy val committed: Map[String, String] = {
    val res = getClass.getResourceAsStream(s"/$file")
    assert(res != null, s"$file missing from test resources " +
      "— run `sbt \"Test/runMain graft.Budgets\"` and commit it")
    scala.io.Source.fromInputStream(res, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val parts = l.split("\t", -1); parts(0) -> parts(1)
      }.toMap
  }

  /** Mismatch messages of one query's row; empty when it holds. */
  protected def check(r: Budgets.Row): Option[String]

  protected def msg(e: Throwable): String = String.valueOf(e.getMessage).take(120)

  protected def holdsBudgets(): Unit = {
    val queries = SparkEntry.queries.keySet
    val missing = queries.diff(committed.keySet).toSeq.sorted
    assert(missing.isEmpty,
      s"queries without a row in $file (regenerate it): $missing")
    val stale = committed.keySet.diff(queries).toSeq.sorted
    assert(stale.isEmpty,
      s"$file rows for queries that no longer exist: $stale")
    val errs = BudgetSpec.pass(spark, sfDir).flatMap(check)
    assert(errs.isEmpty, errs.mkString("\n"))
  }
}

object BudgetSpec {
  private var rows: Option[Seq[Budgets.Row]] = None

  /** The shared pass, measured once per test JVM. */
  def pass(spark: org.apache.spark.sql.SparkSession,
           sfDir: String): Seq[Budgets.Row] = synchronized {
    rows.getOrElse {
      Caching.drain() // earlier suites must not leak cached subplans
      val measured = Budgets.measure(spark, sfDir)
      rows = Some(measured)
      measured
    }
  }
}

class PlanBudgetSpec extends BudgetSpec("exchange_budgets.tsv") {

  protected def check(r: Budgets.Row): Option[String] = r.exchanges.fold(
    e => Some(s"${r.name}: plan construction failed: ${msg(e)}"),
    got => if (got.toString == committed(r.name)) None
      else Some(s"${r.name}: budget ${committed(r.name)}, plan has $got"))

  test("all SparkEntry queries hold their committed exchange budgets") {
    holdsBudgets()
  }
}

class FusionBudgetSpec extends BudgetSpec("fusion_budgets.tsv") {

  protected def check(r: Budgets.Row): Option[String] = r.fusion.fold(
    e => Some(s"${r.name}: execution failed: ${msg(e)}"),
    { case (unfused, total, ops) =>
      if (unfused.toString == committed(r.name)) None
      else Some(s"${r.name}: committed ${committed(r.name)} unfused row " +
        s"nodes, plan has $unfused of $total" +
        (if (ops.nonEmpty) s" ($ops)" else "") +
        " — a NEW unfused Project/Filter/HashAggregate usually means a " +
        "CodegenFallback expression slipped into the chain " +
        "(plans/FUSION.md); if the change is intended, regenerate " +
        "fusion_budgets.tsv and commit the diff") })

  test("all SparkEntry queries hold their committed fusion budgets") {
    holdsBudgets()
  }
}
