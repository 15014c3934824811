package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // session config shared with Bench and every probe main — the
    // oracle must gate the SAME engine configuration the bench times;
    // see [[Sessions.builder]] for each setting's rationale
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.muteBoundedWindowWarning()
    new java.io.File(outDir).mkdirs()
    writeOracles(outDir) // FIRST: a mid-run death must not lose the whole gate
    // optional trailing args: dump only the named queries (local
    // iteration; the driver always runs the full set)
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only.contains(n) }
    // per-query wall-clock cap: one hanging query must not eat the
    // whole correctness window — it is recorded as failed and the rest
    // still dump (see [[Runner]])
    val capSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_CAP", "300").toLong
    selected.foreach { case (name, fn) =>
      Runner.run(spark, name, capSec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      // a full dump must not accumulate every query's corpus-scale
      // caches in one JVM — same rule Bench applies after every query
      Runner.clearCache(spark)
    }
    spark.stop()
  }

  /** Dump SparkEntry.oracleSql as JSON. String escape covers backslash,
    * quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load
    * fail and silently zero the round's correctness.
    */
  private def writeOracles(outDir: String): Unit = {
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
