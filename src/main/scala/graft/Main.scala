package graft

import graft.pipelines.{AnalyticsService, ClusteringJob, EtlJob}

/** CLI dispatcher mirroring the reference's `main.py -t etl|clustering|dss`
  * (`/root/reference/main.py:11-26`).
  *
  * Usage: Main <etl|clustering|report> <srcDir> <warehouseDir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(task, srcDir, wh) = args.take(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the engine config the bench times — see [[Sessions.builder]]
    val spark = Sessions.builder(cpus).appName(s"graft-$task").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    task match {
      case "etl"        => EtlJob.run(spark, srcDir, wh)
      case "clustering" => ClusteringJob.run(spark, srcDir, wh)
      case "report" =>
        val svc = new AnalyticsService(spark, wh)
        svc.lastUpdate().show(truncate = false)
        svc.clusterStats().show()
        svc.brandRollup().show(10)
        svc.productSearch(None, None, "profit", asc = false, page = 0).show()
      case other => sys.error(s"unknown task: $other")
    }
    spark.stop()
  }
}
