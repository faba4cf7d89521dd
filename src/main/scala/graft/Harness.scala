package graft

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** What the registry-driving mains ([[Bench]], [[Prof]], [[Verify]],
  * [[PlanAudit]], [[PlanDump]]) share: the query registry in name order
  * behind one allowlist spelling, the session warmup, and the
  * file-parallel split fixture. Sessions come from [[GraftSession.local]];
  * per-query isolation is [[Caching.withCached]].
  */
object Harness {

  /** The `SPARK_GRAFT_ONLY` allowlist (comma-separated query names);
    * unset means every query.
    */
  def only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  /** `SparkEntry.queries` in sorted name order (run-to-run comparable),
    * restricted to `only` when given.
    */
  def queries(only: Option[Set[String]])
      : Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

  /** Absorb session-wide first-job costs (task infra spin-up, datasource
    * and exec class loading, first shuffle and broadcast) so measured
    * numbers reflect query latency, not JVM boot: a scan, a shuffle, and
    * a broadcast join.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    val r = spark.read.parquet(s"$sfDir/region.parquet")
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name").count().collect()
  }

  /** Run `body` over a split copy of `sfDir` and delete the copy after.
    *
    * Every fixture table ships as ONE parquet row group, so a per-row
    * query over a corpus table would run on one core of 32. A 100 TB
    * table is never one row group — the engine's scale shape is
    * file-parallel — so the copy repartitions corpus-sized tables
    * (≥ 20,000 rows) to one file per core, mid-sized ones (≥ 2,000) to 8,
    * and keeps small dimensions single-file (splitting a 25-row table
    * measures nothing). The basis change is recorded in
    * plans/BENCHNOTES.md r15. If the split fails, `body` runs over
    * `sfDir` itself, with a note on stderr.
    */
  def withSplitFixture[A](spark: SparkSession, sfDir: String, cpus: Int,
                          prefix: String)(body: String => A): A = {
    val d = Files.createTempDirectory(prefix)
    try {
      val dir = try {
        for (t <- graft.sources.Tables.names) {
          val df = spark.read.parquet(s"$sfDir/$t.parquet")
          val rows = df.count()
          val parts = if (rows >= 20000) cpus else if (rows >= 2000) 8 else 1
          (if (parts == 1) df else df.repartition(parts))
            .write.mode("overwrite").parquet(s"$d/$t.parquet")
        }
        d.toString
      } catch { case e: Throwable =>
        System.err.println(
          s"[harness] fixture split failed (${e.getMessage}); using $sfDir")
        sfDir
      }
      body(dir)
    } finally deleteTree(d)
  }

  /** Delete `d` and everything under it, ignoring failures. */
  private[graft] def deleteTree(d: Path): Unit =
    try Files.walk(d).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    catch { case NonFatal(_) => () }
}
