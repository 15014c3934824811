package graft.streaming

import graft.operators.Snapshots
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Exactly-once streaming delivery into a snapshot-versioned table.
  *
  * Structured Streaming's `foreachBatch` contract is AT-LEAST-once: the
  * source offsets for an epoch are checkpointed before the batch runs,
  * the epoch's commit marker only after it succeeds, so a crash in
  * between re-delivers the same (batchId, data) on restart. Exactly-once
  * table contents = that at-least-once delivery + an idempotent sink:
  * every micro-batch appends through `Snapshots.commit` with its batch
  * id recorded in the manifest metadata, and a re-delivered batch —
  * id at or below the last recorded one — is recognized and skipped.
  * This is safe because batch ids are monotonically increasing per
  * checkpoint and a replayed epoch carries identical data (the file
  * source re-reads the files pinned in the checkpointed offset), so
  * skipping a recognized id can never drop rows.
  *
  * The snapshot commit is the atomicity anchor: a crash DURING the
  * commit publishes nothing (manifest rename is all-or-nothing), so the
  * replay finds no recorded id and simply delivers again; a crash AFTER
  * the commit but before the checkpoint marker finds the id recorded
  * and no-ops. Either way the table ends up with each batch exactly
  * once — the property StreamingSpec pins by killing a 3-file
  * one-file-per-trigger run in that exact window and restarting it.
  */
object SnapshotSink {

  private val BatchKey = "stream_batch_id"

  /** Largest stream batch id recorded in the table's manifest chain,
    * scanning newest-first. The id is STICKY manifest metadata
    * (`Snapshots.StickyMeta`): maintenance commits — compaction,
    * clustering, merge — carry the newest mark forward onto their own
    * manifests, so interleaved maintenance never resets delivery AND a
    * vacuum that drops every sink-written manifest still finds the
    * mark on the kept ones. A rollback DOES reposition the stream
    * (manifest metadata travels with the restored version). An empty
    * recorded value means the mark was explicitly cleared
    * ([[resetDelivery]]) and reads as no-mark.
    */
  def lastBatchId(spark: SparkSession, tableDir: String): Option[Long] =
    Snapshots.versions(spark, tableDir).reverseIterator
      .flatMap(v => Snapshots.meta(spark, tableDir, v).get(BatchKey))
      .nextOption()
      .filter(_.nonEmpty)
      .map(_.toLong)

  /** Clear the delivery mark: commit a zero-row append whose EXPLICIT
    * empty batch-id overrides the sticky carry, so [[lastBatchId]]
    * reads None afterwards. Needed when a table is repurposed for a
    * NEW stream with a fresh checkpoint (batch ids restart at 0) —
    * without this the carried high-water mark would silently swallow
    * the new stream's first batches as "re-deliveries". History stays
    * intact; rollback before the reset restores the old mark.
    */
  def resetDelivery(spark: SparkSession, tableDir: String): Int =
    Snapshots.commit(
      Snapshots.read(spark, tableDir).limit(0), tableDir,
      meta = Map(BatchKey -> ""))

  /** Idempotent micro-batch append: commits once per batch id, no-op on
    * re-delivery. Returns true when the batch was committed, false when
    * it was already durable.
    */
  def appendOnce(batch: DataFrame, tableDir: String, batchId: Long): Boolean = {
    val fresh = !lastBatchId(batch.sparkSession, tableDir).exists(_ >= batchId)
    if (fresh)
      Snapshots.commit(batch, tableDir, meta = Map(BatchKey -> batchId.toString))
    fresh
  }

  /** Drain `stream` into `tableDir` with exactly-once table contents:
    * `foreachBatch` → [[appendOnce]] under `Trigger.AvailableNow`.
    * Blocks until the available input is drained; safe to call again
    * after a crash with the same checkpoint dir — that is the point.
    */
  def deliver(stream: DataFrame, tableDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, id: Long) => { appendOnce(b, tableDir, id); () })
      .start()
    q.awaitTermination()
  }
}
