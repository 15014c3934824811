package graft

import java.util.concurrent.CyclicBarrier

import graft.pipelines.{AnalyticsService, ClusteringJob, EtlJob}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._

/** End-to-end pipeline invariants on sf0.001 (the golden-count style of
  * SURVEY.md §5.2): ETL star schema → clustering → analytics views.
  */
class PipelineSpec extends SparkSpec {

  private def land(src: String, dir: String): String = {
    EtlJob.run(spark, src, dir)
    ClusteringJob.run(spark, src, dir)
    dir
  }

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private lazy val wh = land(sf("sf0.001"), freshDir("graft_wh"))

  /** The four parameterless pages, by name, as the dashboard calls them. */
  private def pages(svc: AnalyticsService): Seq[(String, () => DataFrame)] = Seq(
    "clusterSummary" -> (() => svc.clusterSummary()),
    "clusterStats" -> (() => svc.clusterStats()),
    "brandRollup" -> (() => svc.brandRollup()),
    "clusterPivot" -> (() => svc.clusterPivot()))

  /** Every node of an executed plan: through AQE's final plan and its
    * query stages, and into subqueries.
    */
  private def planNodes(plan: SparkPlan): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) { case p => p }

  test("fact preserves every covered lineitem and assigns a valid interval") {
    val fact = spark.read.parquet(s"$wh/FactSales")
    val li = Tables.lineitem(spark, sf("sf0.001"))
    // every lineitem has an order with a date => full coverage
    assert(fact.count() == li.count())
    val dim = spark.read.parquet(s"$wh/DimDate")
    // each fact interval must be the month of its order date
    val bad = fact.join(dim, Seq("interval_id"))
      .filter(date_trunc("month", col("order_date")) =!= col("start_date"))
      .count()
    assert(bad == 0, "as-of interval must be the containing month")
  }

  test("dims are keyed and consistent") {
    val p = spark.read.parquet(s"$wh/DimProduct")
    assert(p.count() == p.select("product_id").distinct().count())
    val d = spark.read.parquet(s"$wh/DimDate")
    assert(d.count() == d.select("interval_id").distinct().count())
    // surrogate ids are dense 1..n in start_date order (F17 determinism)
    val ids = d.orderBy("start_date").select("interval_id")
      .collect().map(_.getInt(0)).toSeq
    assert(ids == (1 to ids.length))
  }

  test("fact is partitioned by order year (partition pruning works)") {
    val years = new java.io.File(s"$wh/FactSales").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("order_year="))
    assert(years.length > 1, "expected one partition dir per year")
    val pruned = spark.read.parquet(s"$wh/FactSales")
      .filter(col("order_year") === 1995)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("order_year=1996"), "scan must prune other years")
  }

  test("clustering lands k clusters covering every active product") {
    val pc = spark.read.parquet(s"$wh/product_clustering")
    assert(pc.select("cluster").distinct().count() == ClusteringJob.K)
    assert(pc.count() == pc.select("part_id").distinct().count())
    assert(pc.filter(col("cluster").isNull || col("cluster") < 0).count() == 0)
  }

  test("analytics views answer over the warehouse") {
    val svc = new AnalyticsService(spark, wh)
    assert(svc.lastUpdate().count() == 2) // etl + clustering ledger rows
    assert(svc.clusterStats().count() == ClusteringJob.K)
    val page0 = svc.productSearch(None, None, "profit", asc = false, page = 0).collect()
    val page1 = svc.productSearch(None, None, "profit", asc = false, page = 1).collect()
    assert(page0.length == 20 && page1.length == 20)
    assert(page0.map(_.getLong(0)).toSet.intersect(page1.map(_.getLong(0)).toSet).isEmpty,
      "pages must not overlap (stable total order)")
    val hits = svc.productSearch(Some("1"), None, "part_id", asc = true, page = 0).collect()
    assert(hits.forall(r => r.getLong(0).toString.contains("1")
      || Option(r.getAs[String]("product_name")).exists(_.contains("1"))))
  }

  test("productSearch from the cached catalog equals searchPage over a fresh DimProduct join") {
    val svc = new AnalyticsService(spark, wh)
    val clusters = spark.read.parquet(s"$wh/product_clustering")
    val products = spark.read.parquet(s"$wh/DimProduct")
    val fresh = clusters
      .join(broadcast(products), clusters("part_id") === products("product_id"), "left")
    // the sort columns the dashboard benchmark's search variants use
    val sortCols = Seq("profit", "part_id", "profit_margin", "average_unit_price",
      "nunique_customer", "product_name", "selling_duration", "list_price")
    for {
      sortCol <- sortCols; asc <- Seq(true, false)
      cluster <- Seq(None, Some(1)); page <- Seq(0, 1)
    } {
      val served = svc.productSearch(None, cluster, sortCol, asc, page).collect().toSeq
      val expected = AnalyticsService.searchPage(fresh, None, cluster, sortCol, asc, page, 20)
        .collect().toSeq
      assert(served.nonEmpty && served == expected, s"sort=$sortCol asc=$asc cluster=$cluster page=$page")
    }
  }

  test("a used service still answers after EtlJob and ClusteringJob rewrite its warehouse") {
    val d = sf("sf0.001")
    val dir = land(d, freshDir("graft_wh_rerun"))
    val svc = new AnalyticsService(spark, dir)
    def answers() = (
      svc.productSearch(None, None, "profit", asc = false, page = 0).collect().toSeq,
      svc.brandRollup().collect().map(_.toString).sorted.toSeq,
      svc.clusterPivot().collect().map(_.toString).sorted.toSeq)
    val before = answers()
    land(d, dir)
    // same inputs, so the rewritten warehouse holds the same answers
    assert(answers() == before)
    spark.catalog.clearCache()
  }

  test("memoized pages answer for the new warehouse after a rewrite from a different source") {
    // The rule perfbench's warehouse check states: product_clustering
    // holds one row per part sold since the recent-window cutoff. Read
    // from the source tables, which no service cache serves. Every
    // clustered part is in DimProduct (the parts that sold), so the
    // matched rows of the brand pages number the same.
    def soldRecently(src: String): Long =
      Tables.lineitem(spark, src)
        .join(Tables.orders(spark, src), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("l_partkey")).distinct().count()
    // what each page's collected rows say about how many parts it covers
    def covered(svc: AnalyticsService): Seq[Long] = Seq(
      svc.clusterSummary().collect().length.toLong,
      svc.clusterStats().collect().map(_.getAs[Long]("n_products")).sum,
      svc.brandRollup().collect().filter(r => !r.isNullAt(r.fieldIndex("cluster")))
        .map(_.getAs[Long]("n")).sum,
      svc.clusterPivot().collect()
        .map(r => (0 until ClusteringJob.K).map(c => r.getAs[Long](c.toString)).sum).sum)
    val (small, large) = (sf("sf0.001"), sf("sf0.01"))
    val dir = land(small, freshDir("graft_wh_reland"))
    val svc = new AnalyticsService(spark, dir)
    val before = soldRecently(small)
    assert(covered(svc) == Seq.fill(4)(before))
    land(large, dir)
    val after = soldRecently(large)
    assert(after != before, "the two landings must differ in what the pages total")
    assert(covered(svc) == Seq.fill(4)(after), "every page must answer for the re-landed warehouse")
    spark.catalog.clearCache()
  }

  test("a repeat page load is one job over in-memory rows; lastUpdate still reads the ledger") {
    val svc = new AnalyticsService(spark, wh)
    for ((name, page) <- pages(svc)) {
      page().collect()
      val df = page()
      val (_, jobs) = jobsOf(df.collect())
      val nodes = planNodes(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]), s"$name must scan its cached rows")
      val work = nodes.collect {
        case p @ (_: Exchange | _: ReusedExchangeExec | _: FileSourceScanExec) => p.nodeName
      }
      assert(work.isEmpty, s"$name repeat load still plans $work")
      assert(jobs <= 1, s"$name repeat load ran $jobs jobs")
    }
    val ledger = svc.lastUpdate()
    ledger.collect()
    assert(planNodes(ledger.queryExecution.executedPlan).exists {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.getName == "PipelineLog")
      case _ => false
    }, "lastUpdate must read the ledger files on every call")
    spark.catalog.clearCache()
  }

  test("two clients' concurrent first calls fill the page memos with single-client answers") {
    val dir = land(sf("sf0.001"), freshDir("graft_wh_clients"))
    def answers(svc: AnalyticsService): Seq[Seq[String]] =
      pages(svc).map { case (_, page) => page().collect().map(_.toString).sorted.toSeq }
    val single = answers(new AnalyticsService(spark, dir))
    spark.catalog.clearCache() // the shared service below fills every memo itself
    val svc = new AnalyticsService(spark, dir)
    val barrier = new CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, Seq[Seq[String]]]]()
    val clients = (0 until 2).map { c =>
      val t = new Thread(() => {
        barrier.await()
        results.put(c, try Right(answers(svc)) catch { case e: Throwable => Left(e) })
      })
      t.start(); t
    }
    clients.foreach(_.join())
    for (c <- 0 until 2) results.get(c) match {
      case Right(a) => assert(a == single, s"client $c answers differ from a single client's")
      case Left(e) => fail(s"client $c failed", e)
    }
    spark.catalog.clearCache()
  }

  test("EtlJob run leaves a per-query QueryLog next to the PipelineLog") {
    // the wh fixture already ran EtlJob.run; its table writes must have
    // landed in the QueryLog via the registered listener
    val log = spark.read.parquet(s"$wh/QueryLog")
    assert(log.count() > 0, "ETL run must record its write actions")
    assert(log.filter(org.apache.spark.sql.functions.col("status") === "ok").count() > 0)
  }

  test("query ledger listener records completed actions and appends to the warehouse log") {
    import org.apache.spark.sql.functions._
    val listener = new graft.pipelines.QueryLedgerListener
    spark.listenerManager.register(listener)
    try {
      val n = Tables.nation(spark, sf("sf0.001")).count()
      // a shuffling action, so the ledger's shuffle_bytes column has
      // something real to observe (count()'s final-agg exchange carries
      // only a handful of partial-count bytes but is still nonzero)
      Tables.lineitem(spark, sf("sf0.001"))
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity"))).count()
      // wait on the O(1) buffer size, NEVER via a Spark action — an
      // action poll would itself be reported to the listener and
      // self-satisfy the wait
      listener.awaitQuiescent()
      assert(listener.size >= 1, "count() action must be recorded")
      val snap = listener.snapshot(spark).collect()
      assert(snap.exists(r => r.getString(3) == "ok" && r.getLong(2) > 0),
        s"recorded event needs ok status and positive wall time: ${snap.mkString(",")}")
      // observability depth: at least one recorded action crossed an
      // exchange, and its write volume landed in the ledger
      assert(snap.exists(r => r.getString(3) == "ok" && r.getLong(4) > 0),
        s"a shuffling action must record shuffle_bytes > 0: ${snap.mkString(",")}")
      assert(snap.forall(r => r.getLong(5) >= 0), "spill bytes never negative on ok rows")
      val dir = java.nio.file.Files.createTempDirectory("graft_qlog").toString
      val flushed = listener.flush(spark, dir)
      assert(flushed >= 1)
      val log = spark.read.parquet(s"$dir/QueryLog")
      assert(log.count() == flushed)
      assert(log.columns.toSet ==
        Set("action", "output_rows", "wall_ns", "status",
          "shuffle_bytes", "spill_bytes", "logged_at"))
      // append-only: a second flush after another action adds rows —
      // confirm the new action actually arrived before flushing again
      Tables.region(spark, sf("sf0.001")).count()
      listener.awaitQuiescent()
      assert(listener.size >= 1, "second action must be buffered before the second flush")
      val flushed2 = listener.flush(spark, dir)
      assert(flushed2 >= 1)
      assert(spark.read.parquet(s"$dir/QueryLog").count() == flushed + flushed2)
      assert(n == 25)
    } finally spark.listenerManager.unregister(listener)
  }

  test("ledger metric sums include subquery subtrees") {
    import org.apache.spark.sql.functions._
    val listener = new graft.pipelines.QueryLedgerListener
    spark.listenerManager.register(listener)
    try {
      // the ONLY exchange in this plan lives inside the scalar subquery
      // (the global avg); the outer filter writes map-side to the noop
      // sink — so a nonzero shuffle_bytes in the ledger row proves the
      // metric walk descends into p.subqueries
      Tables.lineitem(spark, sf("sf0.001"))
        .createOrReplaceTempView("li_ledger_sub")
      spark.sql(
        """SELECT l_orderkey, l_quantity FROM li_ledger_sub
           WHERE l_quantity > (SELECT avg(l_quantity) FROM li_ledger_sub)""")
        .write.format("noop").mode("overwrite").save()
      listener.awaitQuiescent()
      val snap = listener.snapshot(spark).collect()
      assert(snap.exists(r => r.getString(3) == "ok" && r.getLong(4) > 0),
        s"subquery-only shuffle must land in shuffle_bytes: ${snap.mkString(",")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("schema evolution: an appended column reads back across old and new files") {
    // the monthly-append reality: a later delivery adds a column; the
    // warehouse must read old+new files as one table (old rows null for
    // the new column) WITHOUT rewriting history. Parquet does this via
    // mergeSchema at read — pinned here so the behavior (and the cost:
    // footer merge at listing, so keep it off hot paths and evolve via
    // explicit schema where possible) is a tested contract, not an
    // assumption.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString + "/t"
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.parquet(dir)
    Seq((3L, 30.0, "eu"), (4L, 40.0, "us")).toDF("id", "v", "region")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v", "region"))
    assert(merged.count() == 4)
    assert(merged.filter(col("region").isNull).count() == 2,
      "pre-evolution rows must read back with a null for the new column")
    assert(merged.filter(col("region") === "eu").count() == 1)
    // and an explicit schema (the scan-path policy) also reads both
    val explicitSchema = merged.schema
    val explicit = spark.read.schema(explicitSchema).parquet(dir)
    assert(explicit.count() == 4 && explicit.filter(col("region").isNotNull).count() == 2)
  }

  test("e2e warehouse (q185's lifecycle): deterministic clustering lands exactly its in-memory twin; ledger records both pipelines") {
    val d = sf("sf0.001")
    val wh2 = graft.operators.MLOps.e2eWarehouse(spark, d)
    // write-then-read integrity: the landed product_clustering IS the
    // deterministic assignment frame, column-for-column
    val landed = spark.read.parquet(s"$wh2/product_clustering")
    val twin = graft.operators.MLOps.features(spark, d).na.drop()
      .join(graft.operators.MLOps.centroidLabels(spark, d)
        .select(col("part_id"), col("cluster")), Seq("part_id"))
    assert(landed.columns.sorted.toSeq == twin.columns.sorted.toSeq)
    val cols = landed.columns.sorted.toSeq
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(canon(landed) == canon(twin),
      "landed product_clustering must equal the deterministic build")
    // the composed lifecycle left both pipeline rows in the ledger
    val runs = spark.read.parquet(s"$wh2/PipelineLog")
      .select(col("pipeline_name")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(runs == Seq("ClusteringJob", "EtlJob"),
      s"ledger must record the etl → clustering chain, got $runs")
    spark.catalog.clearCache()
  }
}
