package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.{Prebuild, Q, Sessions, SparkEntry, Tables}
import graft.pipelines.{AnalyticsService, ClusteringJob, EtlJob}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The JVM side of the benchmark: sets the workload up `reps` times,
  * runs, on the dashboard, untimed warm-up decks that also record the
  * results to check, then runs the timed closed loop for the given
  * seconds and writes every timing, span and counter to
  * `<runDir>/record.json`. It only calls the
  * engine's public entry points; `perfbench/run.py` generates the
  * inputs, turns the record into metrics and checks the outputs.
  *
  * Usage: Harness <dashboard|batch> <runDir> <seconds> <trace 0|1> <cpus> <reps>
  * `<runDir>` holds `ops.tsv` (one op a line: pass, kind, args) and one
  * copy of the source tables per set-up, `data_r1 .. data_r<reps>`.
  */
object Harness {

  /** Wall-clock cap of one op; an op over it is cancelled and failed. */
  private val CapSec = 60L

  /** Dashboard decks run untimed before the window. */
  private val WarmDecks = 2

  /** The standing index the batch cycle's q162 serves from. */
  private val BatchIndexes = Seq("basket_index")

  final case class Op(i: Int, pass: Int, kind: String, args: Seq[String]) {
    def label: String = (kind +: args).mkString(" ")
  }

  final case class Rec(
      seq: Long, op: Int, client: Int, pass: Int, label: String, t0: Long, ns: Long,
      ok: Boolean, err: String, traced: Boolean, landedBytes: Long, landedFiles: Long) {
    def json: String =
      s"""{"seq":$seq,"op":$op,"client":$client,"pass":$pass,"label":${Json.str(label)},"t0":$t0,""" +
        s""""ms":${Json.num(ns / 1e6)},"ok":$ok,"err":${Json.str(err)},"traced":$traced,""" +
        s""""landed_bytes":$landedBytes,"landed_files":$landedFiles}"""
  }

  private val queries: Map[String, Q] = SparkEntry.declared.map(q => q.name -> q).toMap
  private val seq = new AtomicLong(0)
  private val watchdog = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  })

  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, secondsArg, traceArg, cpus, repsArg) = args
    val seconds = secondsArg.toDouble
    val tracer = new Tracer(traceArg == "1")
    val reps = repsArg.toInt
    val ops = Files.readAllLines(Paths.get(runDir, "ops.tsv")).asScala.toSeq
      .filter(_.nonEmpty).zipWithIndex.map { case (l, i) =>
        val f = l.split("\t", -1).toSeq
        Op(i, f.head.toInt, f(1), f.drop(2))
      }

    // ---- set-up, `reps` times from scratch: a new session over a fresh
    // copy of the data, with fresh warehouse and index dirs
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var svc: AnalyticsService = null
    val setups = (1 to reps).map { r =>
      if (spark != null) spark.stop()
      val data = s"$runDir/data_r$r"
      val wh = s"$runDir/warehouse_r$r"
      System.setProperty("graft.index.dir", s"$runDir/index_r$r")
      val t0 = if (r == 1) jvmStart else System.currentTimeMillis()
      val (s, sessionMs) = timed {
        val s = Sessions.builder(cpus).getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }
      spark = s
      var warehouseMs, prebuildMs, cacheMs = 0.0
      var built, reused = 0
      workload match {
        case "dashboard" =>
          warehouseMs = timed {
            EtlJob.run(spark, data, wh); ClusteringJob.runDeterministic(spark, data, wh)
          }._2
          cacheMs = timed {
            svc = new AnalyticsService(spark, wh); svc.fact.count(); svc.clusters.count()
          }._2
        case "batch" =>
          val builders = Prebuild.all.toMap
          prebuildMs = timed {
            BatchIndexes.foreach { n =>
              if (Prebuild.force(n, builders(n), spark, data) == "built") built += 1 else reused += 1
            }
          }._2
          spark.catalog.clearCache()
      }
      val landed = walk(if (workload == "batch") s"$runDir/index_r$r" else wh, 0L)
      val totalMs = (System.currentTimeMillis() - t0).toDouble
      s"""{"rep":$r,"total_ms":${Json.num(totalMs)},"session_ms":${Json.num(sessionMs)},""" +
        s""""warehouse_ms":${Json.num(warehouseMs)},"prebuild_ms":${Json.num(prebuildMs)},""" +
        s""""cache_ms":${Json.num(cacheMs)},"built":$built,"reused":$reused,""" +
        s""""landed_bytes":${landed._1},"landed_files":${landed._2}}"""
    }
    if (tracer.enabled) spark.sparkContext.addSparkListener(tracer)
    val data = s"$runDir/data_r$reps"
    val wh = s"$runDir/warehouse_r$reps"
    val out = s"$runDir/out"

    // ---- dashboard: untimed warm-up decks on the two clients, which
    // also check: every deck holds every distinct op, and the first run
    // of each records its result digest and dumps its rows for run.py's
    // checks. The JIT is still compiling Catalyst after set-up, and
    // without the warm-up deck times fall by a third over the first
    // minute of a run. The batch cycle checks its own outputs and runs
    // cold, as a nightly job in a fresh JVM does.
    val expected = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val checkErrors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val oracles = ops.filter(_.kind == "q").map(_.args.head).distinct
      .flatMap(n => queries(n).oracle.map(sql => s"${Json.str(n)}:${Json.str(sql.trim)}"))
    new File(s"$out/ops").mkdirs()
    Files.write(Paths.get(s"$out/oracle_sql.json"), oracles.mkString("{", ",", "}").getBytes("UTF-8"))

    def dump(op: Op, df: DataFrame, rows: Array[Row]): Unit =
      if (op.kind == "q")
        spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/q/${op.args.head}")
      else Files.write(Paths.get(s"$out/ops/${op.i}.jsonl"), rows.map(_.json).toSeq.asJava)

    /** Two clients deal ops from `list` in order; whoever first deals
      * from a deck decides, with `runs`, whether that deck runs. In the
      * warm-up the first result of each op label is recorded; in the
      * window every result must match it, and every other op is traced.
      */
    def closedLoop(list: Seq[Op], warm: Boolean, runs: Int => Boolean)(record: Rec => Unit): Unit = {
      val next = new AtomicLong(0)
      val decided = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()
      def dealt(n: Long): Boolean = n < list.size && {
        val pass = list(n.toInt).pass
        decided.computeIfAbsent(pass, p => java.lang.Boolean.valueOf(runs(p))).booleanValue
      }
      val clients = (0 until 2).map { c =>
        val t = new Thread(() => {
          var n = next.getAndIncrement()
          while (dealt(n)) {
            val op = list(n.toInt)
            val on = !warm && n % 2 == 0
            record(runOp(spark, tracer, op, c, on) { id =>
              val df = tracer.span(spark.sparkContext, "build", id, on) {
                if (op.kind == "q") queries(op.args.head).run(spark, data) else serviceCall(svc, op)
              }
              tracer.span(spark.sparkContext, "plan", id, on)(df.queryExecution.executedPlan)
              val rows = tracer.span(spark.sparkContext, "exec", id, on)(df.collect())
              val d = digest(op, rows)
              val first = if (warm) expected.putIfAbsent(op.label, d) else expected.getOrDefault(op.label, ~d)
              if (first == null) dump(op, df, rows)
              else if (first.intValue != d) throw new IllegalStateException("result differs from the first run")
            })
            n = next.getAndIncrement()
          }
        }, s"perfbench-client-$c")
        t.start(); t
      }
      clients.foreach(_.join())
    }

    val (_, warmupMs) = timed {
      if (workload == "dashboard")
        closedLoop(ops.filter(_.pass < WarmDecks), warm = true, _ => true) { r =>
          if (!r.ok) checkErrors.putIfAbsent(r.label, r.err)
        }
    }

    // ---- the timed window: closed loop over whole passes (dashboard
    // decks, at least two for enough samples; batch cycles, at least
    // one); no pass starts after the deadline
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
    val winStart = System.nanoTime()
    val deadline = winStart + (seconds * 1e9).toLong
    workload match {
      case "dashboard" =>
        closedLoop(ops, warm = false, pass => pass < 2 || System.nanoTime() < deadline)(recs.add)
      case "batch" =>
        val cycles = ops.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
        var c = 0
        while (c < cycles.size && (c < 1 || System.nanoTime() < deadline)) {
          cycles(c).foreach { op =>
            recs.add(runOp(spark, tracer, op, 0, traced = true, Some(wh)) { id =>
              op.kind match {
                case "etl" =>
                  tracer.span(spark.sparkContext, "etl", id)(EtlJob.run(spark, data, wh))
                case "clustering" =>
                  tracer.span(spark.sparkContext, "clustering", id)(ClusteringJob.run(spark, data, wh))
                case "q" =>
                  val name = op.args.head
                  val df = tracer.span(spark.sparkContext, "build", id)(queries(name).run(spark, data))
                  tracer.span(spark.sparkContext, "plan", id)(df.queryExecution.executedPlan)
                  tracer.span(spark.sparkContext, "exec", id) {
                    df.write.mode("overwrite").parquet(s"$out/q/$name")
                  }
              }
            })
            spark.catalog.clearCache()
          }
          c += 1
        }
    }
    val winMs = (System.nanoTime() - winStart) / 1e6

    // ---- traced run only: layers timed by a direct call, after the
    // window so they cannot disturb it
    var extra = Seq.empty[String]
    if (tracer.enabled) {
      val resolve = for {
        t <- Seq("part", "orders", "lineitem", "customer"); _ <- 1 to 3
      } yield timed(Tables.apply(spark, data, t))._2
      extra :+= s""""tables_resolve_ms":${resolve.map(Json.num).mkString("[", ",", "]")}"""
      if (workload == "batch") {
        val ms = timed(ClusteringJob.build(spark, data))._2
        extra :+= s""""clustering_build_ms":${Json.num(ms)}"""
      }
      drain(spark)
    }

    val hwmKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    val sourceBytes = Seq("part", "orders", "lineitem").map(t => new File(s"$data/$t.parquet").length).sum
    val record =
      s"""{"workload":${Json.str(workload)},"cores":${cpus.toInt},"window_ms":${Json.num(winMs)},""" +
        s""""warmup_ms":${Json.num(warmupMs)},"rss_hwm_kb":$hwmKb,"source_bytes":$sourceBytes,""" +
        s""""setups":${setups.mkString("[", ",", "]")},""" +
        s""""check_errors":${checkErrors.asScala.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")},""" +
        s""""ops":${recs.asScala.toSeq.sortBy(_.seq).map(_.json).mkString("[", ",\n", "]")},""" +
        (extra :+ s""""trace":${if (tracer.enabled) tracer.json else "null"}""" :+
          s""""tracer_self_ms":${Json.num(tracer.selfNs.get / 1e6)}""").mkString(",") + "}"
    Files.write(Paths.get(runDir, "record.json"), record.getBytes("UTF-8"))
    spark.stop()
  }

  private def serviceCall(svc: AnalyticsService, op: Op): DataFrame = op.kind match {
    case "svc" => op.args.head match {
      case "lastUpdate" => svc.lastUpdate()
      case "clusterSummary" => svc.clusterSummary()
      case "clusterStats" => svc.clusterStats()
      case "brandRollup" => svc.brandRollup()
      case "clusterPivot" => svc.clusterPivot()
    }
    case "search" =>
      val Seq(text, cluster, sortCol, asc, page) = op.args
      svc.productSearch(Option(text).filter(_.nonEmpty), Option(cluster).filter(_.nonEmpty).map(_.toInt),
        sortCol, asc == "1", page.toInt)
  }

  /** Order-sensitive for a search page (its order is the contract),
    * order-free otherwise.
    */
  private def digest(op: Op, rows: Array[Row]): Int = {
    val s = rows.map(_.toString).toSeq
    (if (op.kind == "search") s else s.sorted).hashCode
  }

  /** Runs one op under the cap, on the calling thread. */
  private def runOp(spark: SparkSession, tracer: Tracer, op: Op, client: Int, traced: Boolean,
      landDir: Option[String] = None)(body: Long => Unit): Rec = {
    val sc = spark.sparkContext
    val id = seq.incrementAndGet()
    val group = s"perfbench-$id"
    sc.setJobGroup(group, op.label, interruptOnCancel = true)
    val capped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cancel = watchdog.schedule((() => { capped.set(true); sc.cancelJobGroup(group) }): Runnable,
      CapSec, TimeUnit.SECONDS)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val err =
      try { tracer.span(sc, "op", id, traced)(body(id)); "" }
      catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300) }
      finally { cancel.cancel(false); sc.clearJobGroup() }
    val ns = System.nanoTime() - n0
    val (bytes, files) = landDir.map(d => walk(d, t0)).getOrElse((0L, 0L))
    val e = if (capped.get) s"over the ${CapSec}s cap" else err
    Rec(id, op.i, client, op.pass, op.label, t0, ns, e.isEmpty, e, traced, bytes, files)
  }

  /** Bytes and files under `dir` modified at or after `sinceMs`. */
  private def walk(dir: String, sinceMs: Long): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(Files.isRegularFile(_))
          .filter(f => Files.getLastModifiedTime(f).toMillis >= sinceMs).toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally s.close()
    }
  }

  /** Waits until the listener has seen every job end, up to 5 s. */
  private def drain(spark: SparkSession): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val until = System.nanoTime() + 5000000000L
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < until) Thread.sleep(50)
    Thread.sleep(500)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
