package graft

/** Optimization-round helper: dump `.explain("formatted")` for named
  * queries to `<outDir>/<query>_<suffix>.txt` (the plans/r17 deliverable).
  * Usage: `runMain graft.PlanDump <suffix> <outDir> <query> [query...]`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <suffix> <outDir> <query>...")
    val suffix = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.filterNot(SparkEntry.queries.contains).foreach(n =>
      System.err.println(s"[plandump] unknown query: $n"))
    for ((n, fn) <- Harness.queries(Some(names))) Caching.withCached {
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
      System.err.println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
