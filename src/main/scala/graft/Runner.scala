package graft

import org.apache.spark.sql.SparkSession

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._

/** The one capped run shared by Bench and Verify: the body runs on a
  * runner thread under its own Spark job group and a wall-clock cap.
  * Past the cap the group's jobs are cancelled (so executor slots free
  * up, not just the waiting thread) and the runner is interrupted; one
  * runaway query, or a host stall, becomes a DNF and the caller moves on.
  *
  * The cancel also refuses the group's FUTURE jobs: a cap that fires
  * while the body is between jobs (planning, or between an iterative
  * operator's eager checkpoints) would otherwise cancel nothing, and
  * the body's next job would run on, detached, holding executor slots.
  * Each run gets a fresh group id so a later run of the same query is
  * not refused.
  */
object Runner {

  /** Completed in `sec`, timed out at the cap (slow), or raised (broken
    * — an error must never masquerade as a timeout in the record).
    */
  sealed trait Result
  final case class Ok(sec: Double) extends Result
  case object Dnf extends Result
  final case class Err(cause: Throwable) extends Result {
    def msg: String =
      s"${cause.getClass.getSimpleName}: ${Option(cause.getMessage).getOrElse("").linesIterator.take(1).mkString}"
  }

  /** How long a cancelled runner gets to unwind before it counts as leaked. */
  private val UnwindSec = 30L

  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-runner"); t.setDaemon(true); t
  }

  private val runs = new AtomicLong

  /** Timed-out runners that have not yet unwound, from EVERY run so far:
    * an earlier query's runner may still be unwinding after later runs
    * have finished. One caught inside cache materialization can linger,
    * and Spark's CacheManager↔CachedRDDBuilder lock order inverts
    * between `clearCache` (CacheManager → builder) and `buildBuffers`'s
    * `recacheByPlan` (builder → CacheManager), so clearing the cache
    * while it is mid-flight can DEADLOCK the driver (observed live: the
    * sf1 sweep hung 23 min between queries until a jstack showed
    * exactly this inversion).
    */
  private val leaked = new ConcurrentLinkedQueue[(String, AtomicBoolean)]

  private[graft] def leakedRunners(): Seq[String] = {
    leaked.removeIf((e: (String, AtomicBoolean)) => e._2.get())
    leaked.asScala.map(_._1).toSeq
  }

  private[graft] def safeToClearCache(): Boolean = leakedRunners().isEmpty

  /** Operators cache per-query frames (self-join sharing); callers clear
    * between queries so caches never pile up across a suite — but never
    * while a leaked runner may be inside a cache build.
    */
  def clearCache(spark: SparkSession): Unit =
    if (safeToClearCache()) spark.catalog.clearCache()
    else System.err.println(
      s"[runner] clearCache skipped: runners still unwinding (${leakedRunners().mkString(", ")})")

  /** Runs `body` as `name`, capped at `capSec`; `Ok` carries the body's wall time. */
  def run(spark: SparkSession, name: String, capSec: Long)(body: => Unit): Result = {
    val group = s"$name#${runs.incrementAndGet()}"
    val finished = new AtomicBoolean(false)
    val fut = pool.submit(new Callable[Double] {
      def call(): Double =
        try {
          spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
          val t0 = System.nanoTime()
          body
          (System.nanoTime() - t0) / 1e9
        } finally finished.set(true)
    })
    try Ok(fut.get(capSec, TimeUnit.SECONDS))
    catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroupAndFutureJobs(group)
        fut.cancel(true)
        val deadline = System.nanoTime() + UnwindSec * 1000000000L
        while (!finished.get && System.nanoTime() < deadline) Thread.sleep(200)
        if (!finished.get) {
          leaked.add(name -> finished)
          System.err.println(s"[runner] $name: still unwinding after cancel (leak tracked)")
        }
        System.err.println(s"[runner] $name: DNF (> ${capSec}s, jobs cancelled)")
        Dnf
      case e: Throwable =>
        val cause = Option(e.getCause).getOrElse(e)
        System.err.println(s"[runner] $name: $cause")
        Err(cause)
    }
  }
}
