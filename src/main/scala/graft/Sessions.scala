package graft

import org.apache.spark.sql.SparkSession

/** ONE session construction shared by the engine mains (Main's
  * etl/clustering/report CLI, Bench, Verify, JobCount, PlanDump,
  * PlanProbe, IndexRaceProbe) so an engine-level config can never drift
  * between the graded and timed binary and the probes that explain it
  * — r17's `codegen.maxFields` landed in Bench/Verify but not
  * PlanProbe, whose WholeStageCodegen wrapping then differed from the
  * plans Bench actually times past 100 fields (ADVICE r17).
  */
object Sessions {

  /** Smallest-SF warmup dataset for the untimed codegen/JIT pass —
    * env-overridable so a host without /root/testdata can still run
    * the probes (ADVICE r17: the hardcoded path crashed elsewhere).
    */
  def warmupDir: String =
    sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

  /** The harness session config: `local[cpus]` with shuffle partitions
    * mirrored (the driver contract), the codegen field cutoff covering
    * the library's widest aggregate (130 fields — Lloyd per-round
    * stats at k=10,dim=12; above the 100-field default those plans ran
    * interpreted, 2-4x slower per round, r17 JobCount A/B; an engine
    * property, not a cluster-size tunable), 4 MB splits (test parquet
    * files are single-digit-MB; without the split scans collapse to
    * one task, amplified by explodes downstream), UTC, no UI, and the
    * graft extensions (native functions + the top-k window rewrite,
    * as a user's cluster would get via spark.sql.extensions).
    */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.maxFields", "250")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)

  /** Every remaining unpartitioned window in the library sits on a
    * provably bounded domain (distinct calendar months/days, a 15-row
    * top-k result, k cluster rows, a broadcast dimension's lead()) —
    * each site carries a waiver comment, and PlanSpec pins the one
    * shape where an unpartitioned window over unbounded input WOULD be
    * a hazard (q17). WindowExec's blanket warning is therefore noise in
    * this codebase; silence that one logger, keep everything else at
    * WARN.
    */
  def muteBoundedWindowWarning(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
