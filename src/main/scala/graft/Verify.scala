package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — names limit the run to those
    // queries (local iteration); the driver's two-arg call runs everything
    val Array(sfDir, outDir) = args.take(2)
    val only = Some(args.drop(2).toSet).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // SPARK_GRAFT_MASTER overrides the single-JVM default — used by the
    // multi-executor CI pass (`local-cluster[2,16,4096]` via spark-submit)
    // that catches executor-side serialization and broadcast-lifecycle
    // bugs local[N] cannot (separate executor JVMs, real RPC).
    val spark = GraftSession.local(cpus,
      sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    for ((name, fn) <- Harness.queries(only)) {
      // queries must not interfere: drop the intermediates a query
      // persisted internally (e.g. the coreference edge list, Lm's tf
      // frames) before the next one runs
      try Caching.withCached(fn(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
