package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around each call it makes into a
  * layer, plus the Spark job, stage and task counters of the work each
  * span caused. A span marks its calling thread with the local property
  * [[Tracer.Key]]; Spark copies a thread's local properties into every
  * job it submits (and into threads it starts, such as a streaming
  * query's), so this listener can charge each job, and through it each
  * stage and task, to the span that was active when it was submitted.
  * Everything stays in memory until [[Tracer.json]] writes it out after
  * the run.
  */
final class Tracer(val enabled: Boolean) extends SparkListener {
  import Tracer._

  private val nextId = new AtomicLong(0)

  /** Time spent in the tracer itself: span bookkeeping on the calling
    * threads plus the listener callbacks on Spark's event thread.
    */
  val selfNs = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  /** Runs `body` inside a span of `layer` for op `op`. With tracing
    * off, or `on` false (the untraced half of a traced run), it only
    * runs `body`.
    */
  def span[T](sc: SparkContext, layer: String, op: Long, on: Boolean = true)(body: => T): T =
    if (!(enabled && on)) body
    else {
      val n0 = System.nanoTime()
      val id = nextId.incrementAndGet()
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      val t0 = System.currentTimeMillis()
      selfNs.addAndGet(System.nanoTime() - n0)
      try body
      finally {
        val n1 = System.nanoTime()
        spans.add(Span(id, Option(prev).map(_.toLong).getOrElse(0L), layer, op, t0,
          System.currentTimeMillis()))
        sc.setLocalProperty(Key, prev)
        selfNs.addAndGet(System.nanoTime() - n1)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = selfTimed {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toLong)
    if (span.isDefined) {
      // the result stage's name is the job's short call site, e.g.
      // "parquet at Tables.scala:13"
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs.put(e.jobId, Job(span.get, site, e.time, e.stageInfos.size))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = selfTimed {
    Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = selfTimed {
    if (stageJob.containsKey(e.stageInfo.stageId))
      stageSubmit.put(e.stageInfo.stageId,
        java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = selfTimed {
    if (stageJob.containsKey(e.stageId)) {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      val m = e.taskMetrics
      val submit = Option(stageSubmit.get(e.stageId)).map(_.longValue).getOrElse(e.taskInfo.launchTime)
      a.synchronized {
        a.tasks += 1
        a.waitMs += math.max(0L, e.taskInfo.launchTime - submit)
        if (m != null) {
          a.busyMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private def selfTimed(body: => Unit): Unit = {
    val n0 = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - n0)
  }

  /** Spans, jobs and per-stage task totals as one JSON object. */
  def json: String = {
    import scala.jdk.CollectionConverters._
    val ss = spans.asScala.toSeq.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},"op":${s.op},"t0":${s.t0},"t1":${s.t1}}""")
    val js = jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      s"""{"id":$id,"span":${j.span},"site":${Json.str(j.site)},"t0":${j.t0},"t1":${j.t1},"stages":${j.stages}}"""
    }
    val st = stages.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
      val job = stageJob.get(id)
      s"""{"id":$id,"job":$job,"tasks":${a.tasks},"busy_ms":${a.busyMs},"wait_ms":${a.waitMs},""" +
        s""""gc_ms":${a.gcMs},"input_bytes":${a.inputBytes},"shuffle_write_bytes":${a.shuffleWriteBytes},""" +
        s""""spill_bytes":${a.spillBytes}}"""
    }
    s"""{"spans":${ss.mkString("[", ",", "]")},"jobs":${js.mkString("[", ",", "]")},"stages":${st.mkString("[", ",", "]")}}"""
  }
}

object Tracer {
  val Key = "perfbench.span"

  final case class Span(id: Long, parent: Long, layer: String, op: Long, t0: Long, t1: Long)

  final case class Job(span: Long, site: String, t0: Long, stages: Int) {
    @volatile var t1: Long = -1L
  }

  final class StageAgg {
    var tasks = 0L
    var busyMs = 0L
    var waitMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
