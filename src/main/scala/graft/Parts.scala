package graft

import org.apache.spark.sql.DataFrame

/** Data-derived shuffle sizing for ITERATIVE loop bodies (guide §2.2
  * applied where AQE cannot reach): loops that pin frames in the cache
  * or eagerly checkpoint per round FREEZE their partition count before
  * AQE's coalescing sees it, so every per-round exchange runs at the
  * deployment's full `spark.sql.shuffle.partitions` fan-out even when
  * the loop's whole working set is a few MB — and per-round
  * per-partition task/dispatch overhead then dominates the wall time
  * (the r17 driver's 8-core run beat 32 cores outright on the graph
  * fixpoints and the streaming family for exactly this reason).
  *
  * Rule: one partition per [[BytesPerPart]] of the sizing frame's
  * Catalyst size estimate (driver-side, no job), NEVER exceeding the
  * session's configured count — data-derived below the deployment
  * setting, identical to it once the data is big enough (a no-op at
  * sf10+ locally, and on a real cluster it caps nothing until the
  * frame drops under partitions×2 MB). Join-inflated estimates (unit
  * specs driving derived frames) hit the session cap and leave
  * behavior unchanged — safe fallback.
  *
  * The window mutates the SESSION conf around `body` and restores it:
  * exchanges planned inside but executed lazily after the window run
  * at the restored count, so loop bodies eagerly checkpoint their
  * final frame inside the window.
  */
object Parts {

  private val BytesPerPart = 2L << 20

  /** `bytesPerPart` is per-call-site: the 2 MB default fits the
    * iterative fixpoint loops (per-round overhead dominates, compute
    * per byte is low); join-explode bodies with real per-row compute
    * (basket pair/triple counting) measure their optimum nearer
    * 512 KB/partition — the caller states the measured density.
    */
  def sized[T](sizedOn: DataFrame, bytesPerPart: Long = BytesPerPart)(body: => T): T = {
    val bytes = sizedOn.queryExecution.optimizedPlan.stats.sizeInBytes
    withParts(sizedOn.sparkSession, bytes / bytesPerPart)(body)
  }

  /** Rows-based variant for loops that have already MATERIALIZED and
    * counted their working frame (e.g. the dedup star-contraction CC,
    * which checkpoints + counts its edge list before iterating) — an
    * exact count beats a Catalyst estimate. One partition per
    * `rowsPerPart` rows, same session-cap clamp as [[sized]].
    */
  def sizedByRows[T](s: org.apache.spark.sql.SparkSession, rows: Long,
      rowsPerPart: Long = 100000L)(body: => T): T =
    withParts(s, BigInt(rows / rowsPerPart))(body)

  private def withParts[T](s: org.apache.spark.sql.SparkSession, raw: BigInt)(body: => T): T = {
    val conf = s.conf
    val prev = conf.get("spark.sql.shuffle.partitions")
    val n = raw.min(BigInt(prev.toInt)).max(BigInt(1)).toInt
    conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally conf.set("spark.sql.shuffle.partitions", prev)
  }
}
