package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import scala.jdk.CollectionConverters._

/** The shared capped run: timeouts cancel the query's Spark jobs, errors
  * stay errors, and the cache-clear guard covers every timed-out runner
  * still alive — not just the latest run's.
  */
class RunnerSpec extends SparkSpec {

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a body that runs past the cap returns Dnf and its job group is cancelled") {
    val sleepy = udf { (x: Long) => Thread.sleep(60000); x }
    val started = ConcurrentHashMap.newKeySet[Int]()
    val failed = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "runner_spec_dnf"))
          started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobResult != JobSucceeded) failed.add(e.jobId)
    }
    noop(spark.range(1).toDF()) // session up before the cap starts counting
    spark.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val r = Runner.run(spark, "runner_spec_dnf", 2) {
        noop(spark.range(0, 4, 1, 4).select(sleepy(col("id"))))
      }
      assert(r == Runner.Dnf)
      eventually(timeout(10.seconds)) {
        assert(started.size > 0)
        assert(failed.containsAll(started), "every job of the capped run must be cancelled")
        assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
      }
      // cancellation interrupted the sleeping tasks, so the runner
      // unwound well inside the 60 s sleep and nothing is left leaked
      assert((System.nanoTime() - t0) / 1e9 < 30)
      assert(Runner.safeToClearCache())
      // the cancel refused only that run's group: a rerun of the same
      // query still executes
      val again = Runner.run(spark, "runner_spec_dnf", 10) { noop(spark.range(10).toDF()) }
      assert(again.isInstanceOf[Runner.Ok], s"expected Ok, got $again")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a job the body submits after the cap fired is refused, not left running") {
    val sleepy = udf { (x: Long) => Thread.sleep(60000); x }
    val t0 = System.nanoTime()
    val r = Runner.run(spark, "runner_spec_late_job", 1) {
      // driver-side work that outlives the cap and swallows the
      // interrupt: the window between an iterative operator's jobs
      try Thread.sleep(2000) catch { case _: InterruptedException => Thread.sleep(1000) }
      noop(spark.range(0, 4, 1, 4).select(sleepy(col("id"))))
    }
    assert(r == Runner.Dnf)
    // had the late job run, the runner would still be blocked in its
    // 60 s sleep: leaked after the 30 s unwind wait
    assert((System.nanoTime() - t0) / 1e9 < 30)
    assert(Runner.safeToClearCache())
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }

  test("a body that throws returns Err with the cause's class, never Dnf") {
    Runner.run(spark, "runner_spec_err", 2) { throw new IllegalStateException("broken plan") } match {
      case e: Runner.Err =>
        assert(e.cause.isInstanceOf[IllegalStateException])
        assert(e.msg == "IllegalStateException: broken plan")
      case other => fail(s"expected Err, got $other")
    }
    // a failing Spark job inside the body is an error too
    val boom = udf { (x: Long) => if (x == 2) throw new ArithmeticException("bad row"); x }
    val r = Runner.run(spark, "runner_spec_job_err", 2) {
      noop(spark.range(0, 4, 1, 4).select(boom(col("id"))))
    }
    assert(r.isInstanceOf[Runner.Err], s"expected Err, got $r")
    assert(Runner.safeToClearCache())
  }

  test("an iterative operator inside a run keeps the run's job label on every job") {
    // RunnerSpec and JobCount find a run's jobs by spark.job.description;
    // lloydTrain's driver-sequenced rounds must not overwrite or clear it
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val marker = java.util.UUID.randomUUID.toString
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (Option(p.getProperty("spark.jobGroup.id")).exists(_.startsWith("lloyd_label#")))
            seen.add(e.jobId -> p.getProperty("spark.job.description"))
          if (p.getProperty("graft.spec.flush") == marker) seen.add(e.jobId -> marker)
        }
    }
    val pts = spark.range(0, 12, 1, 3).select(col("id"), (col("id") % 3 * 10.0).as("f0"))
    val inits = Seq(Map("f0" -> 0.0), Map("f0" -> 20.0))
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = Runner.run(spark, "lloyd_label", 120) {
        operators.MLOps.lloydAssign(spark, pts, Seq("f0"), inits, operators.MLOps.LloydIters).count()
        spark.range(1).count()
      }
      assert(r.isInstanceOf[Runner.Ok], s"expected Ok, got $r")
      // the listener bus is ordered: once the marker job is seen, every
      // job of the run has been
      spark.sparkContext.setLocalProperty("graft.spec.flush", marker)
      try spark.range(1).count() finally spark.sparkContext.setLocalProperty("graft.spec.flush", null)
      eventually(timeout(30.seconds)) { assert(seen.asScala.exists(_._2 == marker)) }
      val run = seen.asScala.filter(_._2 != marker).toSeq.sortBy(_._1)
      assert(run.size > operators.MLOps.LloydIters, s"the run's jobs: $run")
      assert(run.last._2 == "lloyd_label", s"the run's last job lost its label: $run")
      assert(run.forall(_._2 == "lloyd_label"), s"a job of the run lost its label: $run")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("safeToClearCache stays false while any timed-out runner is alive, even after a later run") {
    val release = new CountDownLatch(1)
    // ignores interrupts and has no Spark job to cancel: the shape of a
    // runner stuck inside a cache build
    val r = Runner.run(spark, "runner_spec_stuck", 1) {
      var done = false
      while (!done)
        try done = release.await(100, TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException => () }
    }
    assert(r == Runner.Dnf)
    assert(Runner.leakedRunners() == Seq("runner_spec_stuck"))
    assert(!Runner.safeToClearCache())

    // a later run finishing says nothing about the earlier runner
    val later = Runner.run(spark, "runner_spec_later", 2) { noop(spark.range(10).toDF()) }
    assert(later.isInstanceOf[Runner.Ok])
    assert(!Runner.safeToClearCache())

    // the guarded clear leaves the cache alone while the leak lives
    val cached = spark.range(5).cache()
    cached.count()
    Runner.clearCache(spark)
    assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    cached.unpersist()

    release.countDown()
    eventually(timeout(10.seconds)) { assert(Runner.safeToClearCache()) }
    assert(Runner.leakedRunners().isEmpty)
  }
}
