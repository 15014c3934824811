package graft

import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame

/** Streaming/batch parity: the Structured Streaming formulations must
  * produce exactly the batch answers on bounded input (AvailableNow
  * drains the source, watermark never drops data that is in-order
  * within one file batch).
  */
class StreamingSpec extends SparkSpec {

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  /** Split sf0.001 events into `n` mtime-ordered single-file slices by
    * event time (normalized micros — works for any on-disk ts vintage).
    * Returns (slice dir, lo micros, hi micros); slices are named
    * s0..s{n-1}.parquet for the "s*.parquet" stream glob.
    */
  private def sliceEventsByTime(n: Int, tag: String): (java.nio.file.Path, Long, Long) = {
    import org.apache.spark.sql.functions._
    val raw = Tables.events(spark, sf("sf0.001"))
      .withColumn("ts_us", unix_micros(col("ts")))
    val Array(lo, hi) = raw.agg(min(col("ts_us")), max(col("ts_us"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val dir = java.nio.file.Files.createTempDirectory(tag)
    (0 until n).foreach { i =>
      val from = lo + (hi - lo + 1) / n * i
      val to = if (i == n - 1) hi + 1 else lo + (hi - lo + 1) / n * (i + 1)
      val sliceDir = dir.resolve(s"slice_build_$i")
      raw.filter(col("ts_us") >= from && col("ts_us") < to).drop("ts_us")
        .coalesce(1).write.parquet(sliceDir.toString)
      val part = java.nio.file.Files.list(sliceDir).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val target = dir.resolve(s"s$i.parquet")
      java.nio.file.Files.move(part, target)
      target.toFile.setLastModified(1000000L * (i + 1))
    }
    (dir, lo, hi)
  }

  test("streaming hourly windows == batch hourly aggregation") {
    val streamed = EventStream.hourly(spark, sf("sf0.001"))
    val batch = SparkEntry.queries("q36_event_hourly")(spark, sf("sf0.001"))
    assert(canon(streamed) == canon(batch))
  }

  test("streaming session windows == batch gap-sessionization") {
    val streamed = EventStream.sessions(spark, sf("sf0.001"))
      .select("user_id", "start_us", "end_us", "n_events", "sum_value")
    val batch = SparkEntry.queries("q37_sessionize")(spark, sf("sf0.001"))
      .select("user_id", "start_us", "end_us", "n_events", "sum_value")
    assert(canon(streamed) == canon(batch))
  }

  test("stream-stream join == batch interval self-join") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.clickAttribution(spark, sf("sf0.001"))
    val ev = Tables.events(spark, sf("sf0.001"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val batch = p.join(
        c,
        col("user_id") === col("c_user") &&
          col("click_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") <= col("p_ts"))
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(count(lit(1)).as("n_clicks"))
    assert(canon(streamed) == canon(batch))
    assert(streamed.count() > 0, "fixture must exercise the join")
  }

  test("streaming as-of carries click state across micro-batch boundaries") {
    import org.apache.spark.sql.functions._
    // split the event feed into 3 time-range files processed as 3
    // separate micro-batches (maxFilesPerTrigger=1, ascending mtimes):
    // purchases in batch 2/3 whose latest prior click arrived in an
    // EARLIER batch must still be attributed — the GroupState path a
    // single-batch run never exercises
    val (streamDir, lo, hi) = sliceEventsByTime(3, "graft_stream_asof")
    val streamed = EventStream.asOfAttribution(
      spark, streamDir.toString, filesPerTrigger = Some(1), glob = "s*.parquet")
    val batch = SparkEntry.queries("q38_asof_click_purchase")(spark, sf("sf0.001"))
    assert(canon(streamed.select("user_id", "event_id", "ts_us", "click_event_id", "click_ts_us"))
      == canon(batch))
    // the cross-batch path must actually fire: some purchase in a later
    // slice matches a click from an earlier one (cuts are in micros, as
    // are q38's ts_us/click_ts_us outputs)
    val cut1 = lo + (hi - lo + 1) / 3
    val crossBatch = batch.filter(
      col("ts_us") >= cut1 && col("click_ts_us").isNotNull &&
        col("click_ts_us") < cut1)
    assert(crossBatch.count() > 0, "fixture must exercise cross-batch attribution")
  }

  test("duplicate-ts clicks attribute to the max event_id in BOTH streaming and batch paths") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Two clicks per user at the SAME timestamp: without an id
    // tiebreak the winner is shuffle/arrival-order-dependent. Both
    // paths must pick the max event_id. User 1's higher-id click lands
    // in the EARLIER micro-batch (a later lower-id duplicate must not
    // overwrite state); user 2's lands in the later one (equal-ts
    // advance must still happen).
    val T = 1700000000000000000L // event-time nanos, as stored on disk
    val dir = java.nio.file.Files.createTempDirectory("graft_dup_ts")
    val batches = Seq(
      Seq((11L, 1L, "click", T, 0.0, ""), (5L, 2L, "click", T, 0.0, "")),
      Seq(
        (10L, 1L, "click", T, 0.0, ""), (6L, 2L, "click", T, 0.0, ""),
        (20L, 1L, "purchase", T + 1000000000L, 1.0, ""),
        (21L, 2L, "purchase", T + 1000000000L, 1.0, "")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val build = dir.resolve(s"build_$i")
      rows.toDF("event_id", "user_id", "event_type", "ts", "value", "props")
        .coalesce(1).write.parquet(build.toString)
      val part = java.nio.file.Files.list(build).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val target = dir.resolve(s"s$i.parquet")
      java.nio.file.Files.move(part, target)
      target.toFile.setLastModified(1000000L * (i + 1))
    }
    val expected = Set((1L, 20L, 11L), (2L, 21L, 6L))
    val streamed = EventStream.asOfAttribution(
        spark, dir.toString, filesPerTrigger = Some(1), glob = "s*.parquet")
      .select("user_id", "event_id", "click_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == expected)
    val ev = spark.read.parquet(dir.resolve("s0.parquet").toString, dir.resolve("s1.parquet").toString)
    val batch = operators.AsOf.backward(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_event_id")),
        "ts", "click_ts", Seq("user_id"), Seq("click_event_id", "click_ts"))
      .select("user_id", "event_id", "click_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == expected)
  }

  test("exactly-once sink: crash after commit, before checkpoint — restart does not double-deliver") {
    import graft.operators.Snapshots
    import graft.streaming.SnapshotSink
    import org.apache.spark.sql.functions._
    // 3 slice files processed one per micro-batch; the injected crash
    // lands in the at-least-once window (snapshot commit durable, epoch
    // commit marker not yet written), so batch 0 IS re-delivered on
    // restart and the sink must recognize and skip it
    val (dir, _, _) = sliceEventsByTime(3, "graft_eo_sink")
    val table = dir.resolve("table").toString
    val ckpt = dir.resolve("ckpt").toString
    def feed() = graft.streaming.EventStream
      .readEvents(spark, dir.toString, Some(1), "s*.parquet")
      .select("event_id", "user_id", "event_type", "value")
    // run 1: commit batch 0, then die before its checkpoint marker
    val failing = feed().writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        SnapshotSink.appendOnce(b, table, id)
        if (id == 0) throw new RuntimeException("injected crash")
        ()
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      failing.awaitTermination()
    }
    assert(Snapshots.versions(spark, table) == Seq(1),
      "batch 0 must be durable in the table before the crash")
    // run 2, same checkpoint: batch 0 re-delivered → no-op; 1, 2 land
    SnapshotSink.deliver(feed(), table, ckpt)
    assert(Snapshots.versions(spark, table) == Seq(1, 2, 3),
      "exactly one commit per micro-batch — replay must not re-commit")
    assert(SnapshotSink.lastBatchId(spark, table).contains(2L))
    val batchAnswer = spark.read
      .parquet((0 until 3).map(i => dir.resolve(s"s$i.parquet").toString): _*)
      .select("event_id", "user_id", "event_type", "value")
    assert(canon(Snapshots.read(spark, table)) == canon(batchAnswer),
      "final table must equal the batch answer, each row exactly once")
  }

  test("streaming CMS accumulates across micro-batches with state bounded at depth x width") {
    import org.apache.spark.sql.functions._
    // 3 time-slice files, one micro-batch each: the final cells must
    // equal the single-pass batch sketch (state carried and merged
    // across batches), and the state can never exceed 4x256 rows
    val (dir, _, _) = sliceEventsByTime(3, "graft_stream_cms")
    val raw = Tables.events(spark, sf("sf0.001"))
    val streamed = EventStream.cmsCells(
      spark, dir.toString, filesPerTrigger = Some(1), glob = "s*.parquet")
    val batch = SparkEntry.queries("q133_stream_cms")(spark, sf("sf0.001"))
    assert(canon(streamed) == canon(batch.select("d", "cell", "c")),
      "multi-batch sketch must equal the single-pass sketch")
    assert(streamed.count() <= 4 * 256, "state exceeded the declared bound")
    assert(streamed.agg(sum(col("c"))).head().getLong(0) == 4 * raw.count(),
      "every (event, depth) increment must be counted exactly once")
  }
}
