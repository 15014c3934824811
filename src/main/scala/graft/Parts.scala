package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  *
  * [[scoped]] is the ONE place anything scopes that conf. Scopes run
  * one at a time under a JVM-wide reentrant lock (a nested scope on
  * the same thread restores the outer value, then the outer scope the
  * original), so two overlapping windows can never restore each
  * other's value and leave the session at the wrong count. The clamp
  * to the session count reads the current value INSIDE the lock —
  * outside it could read another thread's scoped value. The lock is
  * taken interruptibly, so a capped [[Runner]] cancelled while waiting
  * for it unwinds without ever setting the value. Known limit: a query
  * on another thread that takes no scope can still plan at a scoped
  * count; results do not depend on the partition count (the cpus=5
  * matrix config checks this), only its speed does.
  *
  * On the graph fixpoints a constant-core A/B at sf0.1 (cpus=32,
  * shuffle 32→4) read q150 3.40→1.34 s, q156 3.39→1.54, q157
  * 3.41→1.79, q171 3.63→1.65, q173 4.28→1.98, with 4–8 the optimum and
  * 1–2 already over-serialized. The wedge-enumeration censuses
  * (q151/q168) and the GAT layers (q149) are deliberately NOT scoped:
  * they are compute-bound joins that WANT the fan-out (same A/B: q151
  * 3.57→10.97 s at 4).
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
    scoped(sizedOn.sparkSession)(clamped(bytes / bytesPerPart))(body)
  }

  /** Rows-based variant for loops that have already MATERIALIZED and
    * counted their working frame (e.g. the dedup star-contraction CC,
    * which checkpoints + counts its edge list before iterating) — an
    * exact count beats a Catalyst estimate. One partition per
    * `rowsPerPart` rows, same session-cap clamp as [[sized]].
    */
  def sizedByRows[T](s: SparkSession, rows: Long,
      rowsPerPart: Long = 100000L)(body: => T): T =
    scoped(s)(clamped(BigInt(rows / rowsPerPart)))(body)

  private val Key = "spark.sql.shuffle.partitions"
  private val lock = new java.util.concurrent.locks.ReentrantLock()

  private def clamped(raw: BigInt)(current: Int): Int =
    raw.min(BigInt(current)).max(BigInt(1)).toInt

  /** Runs `body` with the session's shuffle-partition count set to
    * `rule(current count)`, restoring the previous value afterwards.
    */
  private[graft] def scoped[T](s: SparkSession)(rule: Int => Int)(body: => T): T = {
    lock.lockInterruptibly()
    try {
      // contains, not getOption: getOption renders an unset key's
      // default, and writing that back would leave the key pinned
      val saved = Option.when(s.sessionState.conf.contains(Key))(s.conf.get(Key))
      s.conf.set(Key, rule(s.conf.get(Key).toInt).toString)
      try body finally saved.fold(s.conf.unset(Key))(s.conf.set(Key, _))
    } finally lock.unlock()
  }
}
