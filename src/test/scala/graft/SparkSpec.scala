package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. One session per JVM (tests fork
  * once); small shuffle-partition count keeps tiny-data tests fast.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Runs `body` and counts the Spark jobs it submitted, as a
    * SparkListener sees them. The listener bus is asynchronous but
    * ordered, so a marker job after the body flushes it: once the
    * marker is seen, every job of the body has been.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val tag = "graft.spec.jobs"
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID.toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, id)
      val r = try body finally sc.setLocalProperty(tag, null)
      sc.setLocalProperty(tag, s"$id-marker")
      try spark.range(1).count() finally sc.setLocalProperty(tag, null)
      eventually(timeout(30.seconds)) { assert(seen.contains(s"$id-marker")) }
      (r, seen.asScala.count(_ == id))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // PlanSpec asserts on scan metadata (PushedFilters/ReadSchema);
      // default truncation at 100 chars hides the later entries
      .config("spark.sql.maxMetadataStringLength", "2000")
      // static conf: saveAsTable targets (BucketingSpec) land here
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_spec").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A second session over the same SparkContext with GraftExtensions
    * applied (native functions, TopKRewrite, AsOfJoinStrategy) — the
    * harness-session configuration. The plain [[session]] stays the
    * control for asserting the un-extended plans.
    */
  lazy val extSession: SparkSession = {
    val orig = session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
    } finally {
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
    }
  }
}
