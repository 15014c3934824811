package graft

/** Writes `.explain("formatted")` for named queries to files — the
  * optimization-round evidence trail (`plans/r{N}/<query>_<tag>.txt`).
  * Usage:
  *   tools/run_main.sh graft.PlanDump <outDir> <tag> q58_pca_variance ...
  * The session is [[Sessions.builder]]'s, so the dumped plan is the
  * one the bench times; the data dir comes from SPARK_GRAFT_SF_DIR
  * (default sf0.1) like Bench.
  * Iterative operators that eagerly checkpoint during plan
  * construction execute those prefix jobs here — the dump is the final
  * action's plan, exactly what the timed noop sink runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <query> [query ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val tag = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Sessions.muteBoundedWindowWarning()
    for (q <- args.drop(2)) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        outDir.resolve(s"${q}_$tag.txt"), txt.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote ${q}_$tag.txt (${txt.length} chars)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
