package graft.streaming

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Structured Streaming over the events table: the same aggregations
  * the batch operators declare (q36 hourly windows, q37 sessions), run
  * incrementally with `readStream` → watermark → windowed state →
  * `writeStream`. The reference's only "streaming" is a monthly cron
  * batch rerun (`/root/reference/Dockerfile:37`); this module is the
  * Spark-native generalization: the identical query text works
  * unbounded, with watermarks bounding state.
  *
  * Each entry point runs the stream to completion on the bounded input
  * (`Trigger.AvailableNow`) and returns the final result table, so the
  * driver's batch-oracle harness can gate streaming correctness too.
  */
object EventStream {

  /** Stream-source schema, derived from the actual parquet footers
    * through [[graft.Tables.read]] (inferred once per file fingerprint).
    * A pinned literal schema silently misreads regenerated data
    * (micros-as-nanos → timestamps 1000× off, wrong windows with no
    * error); deriving it makes the stream track whatever vintage is on
    * disk, and [[graft.Tables.normalizeEventTs]] branches on the ts
    * dtype exactly as the batch reader does. The glob names leaf files
    * directly under `dir`, so `dir/glob` reads the files the stream's
    * `pathGlobFilter` selects.
    */
  private def sourceSchema(
      spark: SparkSession, dir: String, glob: String): org.apache.spark.sql.types.StructType = {
    spark.conf.set(Tables.NanosAsLong, "true")
    Tables.read(spark, s"$dir/$glob").schema
  }

  /** Total rows in the static files the glob matches, from parquet
    * footer metadata only (driver-side, no Spark job). This is the
    * harness invariant: after an AvailableNow run drains the source,
    * the stream must have ingested exactly this many rows — schema
    * drift that silently drops or mangles data fails loudly instead of
    * emitting wrong answers.
    */
  private[graft] def staticRowCount(
      spark: SparkSession, dir: String, glob: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val base = new Path(dir)
    val fs = base.getFileSystem(conf)
    val matched = fs.globStatus(new Path(base, glob))
    require(matched != null && matched.nonEmpty, s"no files match $dir/$glob")
    matched.iterator.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  private[graft] def readEvents(
      spark: SparkSession,
      dir: String,
      filesPerTrigger: Option[Int] = None,
      glob: String = "events.parquet"): DataFrame = {
    val reader = spark.readStream
      .schema(sourceSchema(spark, dir, glob))
      // file stream sources take a directory; select just the events
      // table out of the scale-factor dir (specs override the glob to
      // stream their own multi-file layouts)
      .option("pathGlobFilter", glob)
    filesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    Tables.normalizeEventTs(reader.parquet(dir))
  }

  /** State-store / shuffle partition count for a stateful stream,
    * derived from the CORPUS (the source's footer row count — already
    * in hand for the ingestion invariant), never from the host's core
    * count. Rationale (r17 VERDICT item 1 + guide §2.1/§2.2): the
    * state-store partition count is fixed for the checkpoint's
    * lifetime and every micro-batch pays a per-partition state commit
    * (HDFSBackedStateStore fsyncs a delta file per partition per
    * batch), so partitions must be sized to the stateful-key
    * cardinality, not mirrored from `local[$CPUS]` — at sf0.1 (100k
    * events) 32 partitions measured 1.7–2.7× SLOWER than 8 (driver's
    * c8 scaling block: q79 0.37, q70 0.60). Rule: one partition per
    * [[StateRowsPerPartition]] source rows (source rows upper-bound
    * every declared query's stateful keys: hourly/session windows,
    * per-user totals, per-event-id dedup state, the join's
    * watermark-bounded row buffers), clamped to [1, cap]. The rule is
    * corpus-derived, NOT host-derived: the same data gives the same
    * partition count at any core count.
    */
  private val StateRowsPerPartition = 1000000L
  private val StatePartitionsCap = 2048L

  private def statePartitionsFor(rows: Long): Int =
    math.min(
      StatePartitionsCap,
      math.max(1L, (rows + StateRowsPerPartition - 1) / StateRowsPerPartition)).toInt

  /** Run a streaming DF to completion into a DISTRIBUTED parquet sink
    * (foreachBatch) and return the result read back; query names are
    * unique per call so concurrent runs (bench + verify in one JVM)
    * don't collide.
    *
    * Until round 13 this was a MEMORY sink — which COLLECTS every
    * batch's result to the driver. The sf10 streaming probe killed it
    * for real: q60's complete-mode session aggregate (one row per
    * (user, session) — grows with the data, unlike the hour- or
    * sketch-bounded surfaces) serialized >1 GiB of task results and
    * died on spark.driver.maxResultSize. foreachBatch replicates the
    * memory sink's semantics exactly — complete mode REPLACES the
    * result per batch (→ overwrite), update/append mode APPENDS each
    * batch's emitted rows (→ append; MemorySink stores update-mode
    * batches the same way) — with the rows staying executor-side end
    * to end, which is the only shape that survives 100 TB.
    *
    * `expectedInput` is the loud-failure invariant: total source input
    * rows across all micro-batches must equal the static footer count
    * of the same files (×2 for self-union readers). A mistyped schema
    * or dropped files then raises here instead of surfacing as subtly
    * wrong windows downstream.
    */
  private def runToTable(
      spark: SparkSession,
      df: DataFrame,
      mode: String,
      expectedInput: Long): DataFrame = {
    val name = s"graft_stream_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    // input accounting via a StreamingQueryListener keyed on the
    // per-call-unique query name — exact for ANY number of
    // micro-batches, unlike summing the bounded recentProgress ring
    // (and with no session-global retention-conf side effect a caller
    // could reset). Progress events match on name; termination is
    // recorded for every runId and checked by membership afterwards,
    // so the async listener bus can deliver in any interleaving with
    // our q.runId read without a race. The bus delivers in order, so
    // once our runId is in `terminatedRuns` every progress event of
    // this query has been counted.
    val inputRows = new java.util.concurrent.atomic.AtomicLong(0L)
    val terminatedRuns =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == name)
          inputRows.addAndGet(e.progress.sources.iterator.map(_.numInputRows).sum)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminatedRuns.add(e.runId)
    }
    spark.streams.addListener(listener)
    try {
      val outDir = graft.Scratch.fresh("stream_out_")
      val schema = df.schema
      val writeBatch: (DataFrame, Long) => Unit = (batch, _) =>
        batch.write
          .mode(if (mode == "complete") org.apache.spark.sql.SaveMode.Overwrite
                else org.apache.spark.sql.SaveMode.Append)
          .parquet(outDir)
      // corpus-derived state-store sizing (see [[statePartitionsFor]]):
      // `spark.sql.shuffle.partitions` is read once at stream start and
      // pinned for the checkpoint lifetime, so scope it to the stream
      // and the batch read-back below runs at the session count.
      // Results are partition-count invariant (the cpus=5 Verify
      // robustness axis), so this is purely a state-commit-overhead
      // decision, and it is not clamped to the session count.
      val q = graft.Parts.scoped(spark)(_ => statePartitionsFor(expectedInput)) {
        val started = df.writeStream
          .queryName(name)
          .outputMode(mode)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(writeBatch)
          .start()
        started.awaitTermination()
        started
      }
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!terminatedRuns.contains(q.runId) && System.nanoTime() < deadline)
        Thread.sleep(10)
      require(terminatedRuns.contains(q.runId),
        "listener bus never delivered this query's termination event")
      val got = inputRows.get()
      require(got == expectedInput,
        s"stream ingested $got input rows but the static files hold $expectedInput — " +
          "schema drift or dropped data; refusing to emit a result")
      // an empty source fires no batch → no dir; degrade to an empty
      // frame with the query's schema instead of a read error
      if (new java.io.File(outDir).exists())
        spark.read.schema(schema).parquet(outDir)
      else
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } finally spark.streams.removeListener(listener)
  }

  /** Tumbling 1h windows per event type — streaming twin of q36. The
    * 1-hour watermark bounds state at scale; on bounded input with
    * AvailableNow it emits exactly the batch answer.
    */
  def hourly(spark: SparkSession, dir: String): DataFrame = {
    val agged = readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
    runToTable(spark, agged, "complete",
        staticRowCount(spark, dir, "events.parquet"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Arbitrary stateful processing via mapGroupsWithState: per-user
    * running totals kept in a typed GroupState. Values accumulate as
    * micro-unit longs (floor(v*1e6+0.5)) so the state merge is
    * order-independent and exact — within-group iterator order is not
    * deterministic under shuffle, a double accumulator would drift.
    * Emits the cumulative row per user per micro-batch; the final row
    * (max n_events) is the answer.
    */
  def userTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val ev = readEvents(spark, dir)
      .select(col("user_id"), col("value")).as[(Long, Double)]
    val updated = ev
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Double)], state: GroupState[(Long, Long)]) =>
          var (c, s) = state.getOption.getOrElse((0L, 0L))
          it.foreach { case (_, v) =>
            c += 1
            s += math.floor(v * 1e6 + 0.5).toLong
          }
          state.update((c, s))
          (user, c, s)
      }
      .toDF("user_id", "n_events", "sum_value_micros")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    runToTable(spark, updated, "update",
        staticRowCount(spark, dir, "events.parquet"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Stream-static join: the event stream enriched against a static
    * dimension (customer segment by user id) with a broadcast hash join
    * inside the micro-batch, then aggregated per segment. The static
    * side re-resolves per batch — the streaming twin of J7/J8.
    */
  def segmentTotals(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val agged = readEvents(spark, dir)
      .join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(coalesce(col("segment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
    runToTable(spark, agged, "complete",
      staticRowCount(spark, dir, "events.parquet"))
  }

  /** Streaming exact dedup: the input is doubled (self-union) and
    * `dropDuplicatesWithinWatermark` on the event key removes the
    * copies with state bounded by the watermark — the streaming twin of
    * exact dedup (q45). Returns per-type counts after dedup, which must
    * equal the batch per-type counts of the ORIGINAL (un-doubled)
    * table.
    */
  def dedupCounts(spark: SparkSession, dir: String): DataFrame = {
    val doubled = readEvents(spark, dir).unionByName(readEvents(spark, dir))
    val deduped = doubled
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    // self-union: the source set is read twice
    runToTable(spark, deduped, "complete",
      2 * staticRowCount(spark, dir, "events.parquet"))
  }

  /** STREAM-STREAM inner join: purchases joined to the same user's
    * clicks from the preceding hour. Both sides carry watermarks and
    * the join condition carries the time-range bound — that pair is
    * what lets Spark expire buffered state (a click older than
    * purchase-watermark − 1h can never match again and is evicted), so
    * state stays bounded on an unbounded stream. The attribution count
    * per purchase is aggregated after the streamed join completes.
    */
  def clickAttribution(spark: SparkSession, dir: String): DataFrame = {
    val clicks = readEvents(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id").as("p_user"),
        col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = purchases.join(
      clicks,
      col("p_user") === col("user_id") &&
        col("click_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("p_ts"))
    // two independent readers over the same files
    runToTable(spark, joined, "append",
        2 * staticRowCount(spark, dir, "events.parquet"))
      .groupBy(col("purchase_id"), col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_clicks"))
  }

  /** Streaming backward AS-OF through custom state — the incremental
    * twin of the flagship q38 operator: each purchase is attributed to
    * the user's latest at-or-before click. Per user,
    * `flatMapGroupsWithState` keeps one (latest click ts, id) pair;
    * each micro-batch's events are swept in event-time order (clicks
    * before purchases at equal timestamps, matching backward's `>=`),
    * emitting one attributed row per purchase. State is O(1) per user —
    * the streaming join (q79) buffers a time-range of rows per side,
    * this buffers two longs.
    *
    * Cross-batch ordering: purchases see every click from earlier
    * micro-batches; an unbounded deployment would add a watermark
    * holdback to re-order late clicks before releasing purchases (the
    * q79 eviction pattern). On this module's bounded AvailableNow
    * contract the sweep is exact, and the q38 oracle gates it.
    */
  def asOfAttribution(
      spark: SparkSession,
      dir: String,
      filesPerTrigger: Option[Int] = None,
      glob: String = "events.parquet"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ev = readEvents(spark, dir, filesPerTrigger, glob)
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id"),
        col("event_id"),
        (col("event_type") === "purchase").as("is_purchase"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, Boolean, Long)]
    val attributed = ev
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long, Boolean, Long)],
         state: GroupState[(Long, Long)]) =>
          var (bestTs, bestId) = state.getOption.getOrElse((Long.MinValue, -1L))
          // iterator order within a batch is shuffle-arbitrary: sort by
          // (time, clicks-first, event_id) so equal-ts clicks match
          // their purchase AND duplicate-ts clicks have a deterministic
          // winner (highest event_id — the same row the batch backward
          // path's max-payload tiebreak picks)
          val events = it.toArray.sortBy(e => (e._4, e._3, e._2))
          val out = events.flatMap {
            case (_, id, false, t) => // click: advance the latest-seen state
              // strict > with an id tiebreak on equal ts — `>=` alone
              // would let shuffle order pick among duplicate-ts clicks
              // arriving in different micro-batches
              if (t > bestTs || (t == bestTs && id > bestId)) { bestTs = t; bestId = id }
              None
            case (_, id, true, t) => // purchase: emit with current best
              Some((user, id, t,
                if (bestTs == Long.MinValue) None else Some(bestId),
                if (bestTs == Long.MinValue) None else Some(bestTs)))
          }
          state.update((bestTs, bestId))
          out.iterator
      }
      .toDF("user_id", "event_id", "ts_us", "click_event_id", "click_ts_us")
    runToTable(spark, attributed, "append",
      staticRowCount(spark, dir, glob))
  }

  /** Gap-based sessions (30 min) via the native session_window —
    * streaming twin of q37's window-function formulation. Emits one row
    * per closed session keyed by (user, session start).
    */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    val agged = readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        Det.dsum(col("value")).as("sum_value"))
    runToTable(spark, agged, "complete",
        staticRowCount(spark, dir, "events.parquet"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"), col("sum_value"))
  }

  /** Streaming Count-Min cell build — q132's sketch as an incremental
    * aggregation, THE setting count-min exists for: running state is
    * bounded at depth×width (4×256 rows) regardless of stream length
    * or key cardinality, so no watermark is even needed — the state
    * never grows. Cells come from [[graft.functions.TextFns.cmsCell]],
    * the same addressing as the batch build, so the final table equals
    * the batch sketch cell-for-cell (mergeability across engines and
    * across batch/stream is the sketch's point) and the batch oracle
    * gates it. `filesPerTrigger` lets specs force multi-micro-batch
    * accumulation.
    */
  def cmsCells(
      spark: SparkSession,
      dir: String,
      filesPerTrigger: Option[Int] = None,
      glob: String = "events.parquet"): DataFrame = {
    import graft.functions.TextFns
    val cells = readEvents(spark, dir, filesPerTrigger, glob)
      .select(col("user_id").cast("string").as("k"))
      .select(col("k"), explode(sequence(lit(0), lit(3))).as("d"))
      .groupBy(col("d"), TextFns.cmsCell(col("k"), col("d"), 256).as("cell"))
      .agg(count(lit(1)).as("c"))
    runToTable(spark, cells, "complete",
      staticRowCount(spark, dir, glob))
  }
}
