package graft

/** Optimization-round evidence probe: runs each named query once
  * (noop sink) and prints how many Spark JOBS and STAGES it launched
  * plus wall time — the driver-sequenced-job count the explain output
  * cannot show (eager checkpoints/collects run before the final
  * action). Usage:
  *   SPARK_GRAFT_SF_DIR=... tools/run_main.sh graft.JobCount q58_pca_variance ...
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Sessions.muteBoundedWindowWarning()
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val durs = new java.util.concurrent.ConcurrentLinkedQueue[(Double, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(j.stageInfos.lastOption.map(_.name)).getOrElse("?")
        starts.put(j.jobId, (System.nanoTime(), desc.take(90)))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(starts.remove(e.jobId)).foreach { case (t0, desc) =>
          durs.add(((System.nanoTime() - t0) / 1e9, desc))
        }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val ms = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(0L)
        if (ms > 150) {
          val where = i.details.linesIterator
            .filter(l => l.contains("graft") || l.contains("MLOps") || l.contains("operators"))
            .take(2).mkString(" <- ")
          durs.add((ms / 1e3,
            s"STAGE tasks=${i.numTasks} ${i.name.take(60)} @ ${where.take(160)}"))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (q <- args) {
      // one untimed warm pass at the smallest sf (codegen/JIT), as Bench does
      SparkEntry.queries(q)(spark, Sessions.warmupDir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      Thread.sleep(200) // let async job-start events drain
      jobs.set(0); stages.set(0); durs.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"[jobcount] $q%-28s jobs=${jobs.get}%4d stages=${stages.get}%4d wall=$sec%7.2fs")
      if (sys.env.get("SPARK_GRAFT_JOBS_VERBOSE").contains("1")) {
        import scala.jdk.CollectionConverters._
        val all = durs.asScala.toSeq.sortBy(-_._1)
        println(f"[jobcount]   job-time sum=${all.map(_._1).sum}%.2fs; slowest:")
        all.take(12).foreach { case (s0, d) => println(f"[jobcount]   $s0%6.2fs  $d") }
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
