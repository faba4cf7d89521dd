package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the test
  * run fast; suites must not mutate session state destructively).
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.tune(
      SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", 4)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft-wh").toString)
        .getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** The formatted physical plan as a string — the shared substrate for
    * plan-shape assertions (one home; suites must not keep private
    * copies that could drift).
    */
  protected def planString(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  /** Run `body` with a fresh temp dir that is deleted afterwards, however
    * `body` ends.
    */
  protected def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      val p = new org.apache.hadoop.fs.Path(dir.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The call sites (result-stage names, e.g. "parquet at Streams.scala:853")
    * of the Spark jobs `body` submits, complete when this returns
    * ([[Jobs.recorded]]).
    */
  protected def jobsOf(body: => Unit): Seq[String] =
    Jobs.recorded(spark)(body).jobs.map(_.site)

  /** AQE-aware shuffle-exchange count over the executed plan TREE
    * (children only — subquery plans are pinned separately where a spec
    * cares; BroadcastExchange is not a shuffle).
    */
  protected def countShufflesExec(
      plan: org.apache.spark.sql.execution.SparkPlan): Int = plan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      countShufflesExec(a.executedPlan)
    case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
      1 + s.children.map(countShufflesExec).sum
    case other => other.children.map(countShufflesExec).sum
  }
}
