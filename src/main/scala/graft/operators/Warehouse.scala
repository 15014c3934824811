package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Warehouse-maintenance and data-quality operators: banded range
  * joins, SCD Type-2 history merges, one-pass column profiling,
  * hopping-window aggregation, exact quantiles, and per-source quota
  * capping. These extend the reference's warehouse surface (interval
  * dims, history tables — `/root/reference/src/pipelines/etl.py`) with
  * the maintenance verbs a production warehouse needs around them.
  */
object Warehouse {
  import Det._

  /** SCD Type-2 reconcile of a current dimension against an incoming
    * restated snapshot — the generic keyed full-outer merge, all four
    * branches handled:
    *
    *  - changed key:   close the current version at `restate`, open a
    *                   new current one;
    *  - unchanged key: keep the single open-ended current version;
    *  - insert (key only in `inc`): open a new current version at
    *                   `restate` — no closed predecessor;
    *  - delete (key only in `cur`): close the current version at
    *                   `restate` — no successor.
    *
    * One shuffle on the dimension key, no windows. Inputs by column
    * name: `cur(key, bal[, valid_from])`, `inc(key, new_bal)`; output
    * `(key, bal, valid_from, valid_to, is_current)`. When `cur` carries
    * a per-row `valid_from` (a dimension whose current rows opened at
    * different times — the normal case after more than one merge), each
    * surviving or closed version keeps ITS OWN open date; `openedAt` is
    * only the fallback for a single-epoch snapshot without the column.
    * The insert/delete branches and the per-row round-trip are pinned
    * in WarehouseSpec (q105's supplier feed cannot reach the
    * insert/delete arms — cur and inc derive from the same table there).
    */
  def scd2Merge(
      cur: org.apache.spark.sql.DataFrame,
      inc: org.apache.spark.sql.DataFrame,
      openedAt: String,
      restate: String,
      endOfTime: String): org.apache.spark.sql.DataFrame = {
    val curFrom =
      if (cur.columns.contains("valid_from")) col("valid_from") else lit(openedAt)
    val c = cur.select(col("key").as("c_key"), col("bal"), curFrom.as("c_from"))
    val i = inc.select(col("key").as("i_key"), col("new_bal"))
    val insert = col("c_key").isNull
    val delete = col("i_key").isNull
    // null-safe: a NULL-vs-value restatement IS a change (plain =!=
    // returns NULL there and would silently fall through to the
    // unchanged branch — the same pandas-NaN trap as the reference
    // ETL's price-history merge on its composite key)
    val changed = !(col("new_bal") <=> col("bal"))
    def v(
        b: org.apache.spark.sql.Column,
        from: org.apache.spark.sql.Column,
        to: String,
        cu: Boolean) =
      struct(b.as("bal"), from.as("valid_from"),
        lit(to).as("valid_to"), lit(cu).as("is_current"))
    c.join(i, col("c_key") === col("i_key"), "full_outer")
      .select(
        coalesce(col("c_key"), col("i_key")).as("key"),
        explode(
          when(insert, array(v(col("new_bal"), lit(restate), endOfTime, cu = true)))
            .when(delete, array(v(col("bal"), col("c_from"), restate, cu = false)))
            .when(changed, array(
              v(col("bal"), col("c_from"), restate, cu = false),
              v(col("new_bal"), lit(restate), endOfTime, cu = true)))
            .otherwise(array(v(col("bal"), col("c_from"), endOfTime, cu = true)))).as("v"))
      .select(
        col("key"), col("v.bal").as("bal"),
        col("v.valid_from").as("valid_from"), col("v.valid_to").as("valid_to"),
        col("v.is_current").as("is_current"))
  }

  /** Small-file compaction — the warehouse-maintenance verb a
    * continuously-fed table needs: streaming/batch appends accumulate
    * many small parquet files, and scan task overhead then grows with
    * file COUNT, not data size. Rewrites `dir` into
    * `ceil(actual_on_disk_bytes / targetBytes)` files (actual
    * filesystem size, not optimizer estimates) via a temp directory
    * and an atomic-as-the-FS-allows swap. Returns the new file count.
    *
    * Round-robin `repartition` (not `coalesce`): coalesce merges
    * whole input partitions and inherits their skew; compaction's
    * whole point is evenly-sized output files.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      targetBytes: Long): Int = {
    // a temp-dir swap REWRITES files in place — under snapshot control
    // that would orphan every manifest's file list and destroy time
    // travel; versioned tables must compact as a commit instead
    require(!Snapshots.isVersioned(spark, dir),
      s"compact: $dir is snapshot-versioned — use compactSnapshot, which preserves history")
    val hconf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(hconf)
    val bytes = fs.getContentSummary(path).getLength
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // tmp derives from the NORMALIZED path, never raw string concat — a
    // trailing slash in `dir` would otherwise nest the tmp dir INSIDE
    // the table, and the delete below would destroy both copies
    val tmp = new org.apache.hadoop.fs.Path(
      path.getParent, path.getName + "_compact_tmp")
    spark.read.parquet(dir).repartition(n)
      .write.mode("overwrite").parquet(tmp.toString)
    // swap order matters: rename the live table ASIDE first, then the
    // rewritten copy in, then delete the old copy. Deleting first would
    // open a window (delete .. rename) where a crash leaves NO table at
    // `path` and the data stranded under the tmp name; with
    // rename-aside, a crash at any point leaves the original intact and
    // recoverable under the deterministic `_compact_old` name. Fail
    // loudly: an ignored false here means a doubled or vanished table.
    val old = new org.apache.hadoop.fs.Path(
      path.getParent, path.getName + "_compact_old")
    if (fs.exists(old) && !fs.delete(old, true)) // leftover from a prior crash
      throw new java.io.IOException(s"compact: could not clear stale $old")
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compact: could not move $path aside")
    if (!fs.rename(tmp, path)) {
      fs.rename(old, path) // restore; best-effort, original data is still in `old`
      throw new java.io.IOException(s"compact: could not move $tmp -> $path")
    }
    if (!fs.delete(old, true))
      throw new java.io.IOException(s"compact: could not remove $old")
    n
  }

  /** Range-clustered write — sort-based file clustering for scan
    * pruning: range-repartition on the cluster key so each output file
    * owns a DISJOINT key range, and sort within partitions so parquet
    * row-group min/max stats are tight. A point or range filter on the
    * key then touches only the files whose range overlaps — at
    * warehouse scale the difference between scanning one file and
    * scanning all of them. (This is what table formats market as
    * clustering/Z-order in the single-key case; Spark-native, no
    * format dependency.) File-range disjointness is pinned in
    * WarehouseSpec.
    */
  def clusterWrite(
      df: org.apache.spark.sql.DataFrame,
      dir: String,
      clusterCol: String,
      nFiles: Int): Unit = {
    require(!Snapshots.isVersioned(df.sparkSession, dir),
      s"clusterWrite: $dir is snapshot-versioned — use clusterCommit, which preserves history")
    clustered(df, clusterCol, nFiles).write.mode("overwrite").parquet(dir)
  }

  private def clustered(
      df: org.apache.spark.sql.DataFrame,
      clusterCol: String,
      nFiles: Int): org.apache.spark.sql.DataFrame =
    df.repartitionByRange(nFiles, col(clusterCol))
      .sortWithinPartitions(col(clusterCol))

  /** 32-bit Morton code: interleave the low 16 bits of `a` (odd bit
    * positions) and `b` (even) — a static 32-term bitwise expression
    * tree, fully inside whole-stage codegen. Rows close in BOTH keys
    * land close in z, so a range-partition on z gives every file a
    * small bounding box on every interleaved dimension — the layout
    * property multi-column zone-map pruning ([[Snapshots.scanBox]])
    * needs.
    */
  private def morton(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)

  /** Z-order clustered snapshot commit — the multi-dimensional twin of
    * [[clusterCommit]] (Delta/Iceberg OPTIMIZE ZORDER): quantize two
    * numeric sort keys to 16-bit bins against their global min/max
    * (one broadcast 1-row stats frame — no collect), interleave the
    * bins into a Morton code, range-partition + sort the rows by it
    * into `nFiles` files, and commit with per-file min/max stats on
    * `statsCols`. Layout is a TABLE property, not a result property:
    * readers see identical rows whatever the file arrangement; the
    * z-curve only decides which files a 2-D box predicate can skip.
    * `keyA`/`keyB` are caller-supplied NUMERIC expressions (cast dates
    * to day numbers etc.) so the binning stays type-uniform.
    */
  def zorderCommit(
      df: org.apache.spark.sql.DataFrame,
      tableDir: String,
      keyA: org.apache.spark.sql.Column,
      keyB: org.apache.spark.sql.Column,
      nFiles: Int,
      statsCols: Seq[String]): Int =
    zorderWrite(df, tableDir, keyA, keyB, nFiles, statsCols, replace = true)

  /** Append a DELTA to a z-ordered table without touching shipped
    * files — the incremental half of the z-order lifecycle. The delta
    * is z-clustered AMONG ITSELF (bins against its own min/max: z only
    * decides file layout within this commit; zone-map stats are raw
    * column values, so pruning composes across commits at file
    * granularity regardless of which commit wrote a file). Standing
    * files keep their stats; a box predicate prunes standing and delta
    * files alike. Periodic full recluster = [[zorderCommit]]
    * (replace), the Iceberg OPTIMIZE cadence.
    */
  def zorderAppend(
      df: org.apache.spark.sql.DataFrame,
      tableDir: String,
      keyA: org.apache.spark.sql.Column,
      keyB: org.apache.spark.sql.Column,
      nFiles: Int,
      statsCols: Seq[String]): Int =
    zorderWrite(df, tableDir, keyA, keyB, nFiles, statsCols, replace = false)

  private def zorderWrite(
      df: org.apache.spark.sql.DataFrame,
      tableDir: String,
      keyA: org.apache.spark.sql.Column,
      keyB: org.apache.spark.sql.Column,
      nFiles: Int,
      statsCols: Seq[String],
      replace: Boolean): Int = {
    val keyed = df
      .withColumn("__za", keyA.cast("double"))
      .withColumn("__zb", keyB.cast("double"))
    val st = keyed.agg(
      min(col("__za")).as("__alo"), max(col("__za")).as("__ahi"),
      min(col("__zb")).as("__blo"), max(col("__zb")).as("__bhi"))
    // null sort-key values land in bin 0 BY DECISION (alongside the
    // degenerate hi<=lo case), not by accident: without the coalesce,
    // floor over a null key yields null and least()'s null-skipping
    // would silently cluster null-keyed rows with the max-key quadrant.
    // Layout-only either way — zone-map stats and results stay correct.
    def bin(v: org.apache.spark.sql.Column,
        lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column) =
      coalesce(
        when(hi <= lo, lit(0L)).otherwise(
          least(floor((v - lo) / (hi - lo) * 65536.0), lit(65535.0)).cast("long")),
        lit(0L))
    val z = keyed
      .crossJoin(broadcast(st))
      .withColumn("__z", morton(
        bin(col("__za"), col("__alo"), col("__ahi")),
        bin(col("__zb"), col("__blo"), col("__bhi"))))
      .drop("__za", "__zb", "__alo", "__ahi", "__blo", "__bhi")
    val out = z
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    Snapshots.commit(out, tableDir, replace = replace, statsCols = statsCols)
  }

  /** Snapshot-preserving compaction — the Iceberg rewrite-commit
    * semantic: rewrite the LATEST version's rows into
    * `ceil(on_disk_bytes / targetBytes)` evenly-sized files and
    * publish them as a NEW version via
    * `Snapshots.commit(replace = true)`. No existing data file is
    * touched, so a reader pinned to any prior version still reads the
    * exact pre-compaction bytes, and rolling back across the
    * compaction is an ordinary manifest commit like any other.
    * Returns (committed version, file count).
    */
  def compactSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      tableDir: String,
      targetBytes: Long): (Int, Int) = {
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = Snapshots.files(spark, tableDir)
      .map(p => fs.getFileStatus(p).getLen).sum
    // overflow-safe ceiling: (bytes + target - 1) would wrap on a huge
    // targetBytes; (bytes - 1) / target + 1 cannot
    val n = math.max(1L, (bytes - 1) / targetBytes + 1).toInt
    val v = Snapshots.commit(
      Snapshots.read(spark, tableDir).repartition(n), tableDir, replace = true)
    (v, n)
  }

  /** [[clusterWrite]]'s layout under snapshot control: disjoint key
    * ranges per file, rows sorted within each, published as a new
    * version (replace semantics, history intact). Returns the
    * committed version.
    */
  def clusterCommit(
      df: org.apache.spark.sql.DataFrame,
      tableDir: String,
      clusterCol: String,
      nFiles: Int,
      statsCols: Seq[String] = Nil): Int =
    Snapshots.commit(
      clustered(df, clusterCol, nFiles), tableDir, replace = true, statsCols = statsCols)

  /** q131's diagnostic reduced to the routing statistic: the largest
    * single key's share of `df`'s rows on `key`. Two keyed aggregates,
    * ONE row to the driver — the same cost class as the runtime
    * statistics AQE plans from, and the only driver-side value the
    * skew router reads.
    */
  private def topKeyShare(df: org.apache.spark.sql.DataFrame, key: String): Double = {
    // NULL keys never match the inner equi-join this statistic routes,
    // so they must not count toward (or against) the skew decision
    val r = df.filter(col(key).isNotNull).groupBy(col(key)).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).cast("double"), sum(col("n")).cast("double"))
      .head()
    if (r.isNullAt(1) || r.getDouble(1) == 0.0) 0.0 else r.getDouble(0) / r.getDouble(1)
  }

  private val SaltCol = "graft_salt"

  /** Skew-routed equi-join — the q131 verdict CONSUMED, not just
    * reported: profile the fact side's join-key concentration
    * ([[topKeyShare]]); when the top key holds more than `threshold`
    * of the rows, run the join in the q69 salting shape — fact rows
    * scatter over `salts` sub-keys (round-robin off the row id stripe;
    * the salt value never reaches the output, so task retries are
    * harmless), the dim side replicates ×`salts`, and the shuffle key
    * becomes (key, salt), spreading the hot key over `salts` reducers
    * instead of one straggler. Below the threshold the plain shuffle
    * join runs and nothing pays the replication cost. Results are
    * identical either way (WarehouseSpec pins equality AND the
    * partition spread bound).
    *
    * Relationship to AQE: OptimizeSkewedJoin splits oversized
    * partitions at runtime, but only past byte thresholds (256 MB
    * default) and only for the join strategies it covers — this route
    * pins the decision to the measured key statistic itself, the same
    * explicit shape q69 uses for skewed aggregation.
    */
  def skewRoutedJoin(
      fact: org.apache.spark.sql.DataFrame,
      dim: org.apache.spark.sql.DataFrame,
      key: String,
      salts: Int = 8,
      threshold: Double = 0.2): org.apache.spark.sql.DataFrame =
    skewRoutedWithDecision(fact, dim, key, salts, threshold)._1

  /** [[skewRoutedJoin]] plus the routing decision, exposed so the spec
    * can pin which shape actually ran.
    */
  private[graft] def skewRoutedWithDecision(
      fact: org.apache.spark.sql.DataFrame,
      dim: org.apache.spark.sql.DataFrame,
      key: String,
      salts: Int,
      threshold: Double): (org.apache.spark.sql.DataFrame, Boolean) = {
    // threshold <= 0 means "force the salted arm": any share beats it,
    // so the profiling aggregate would be a wasted full pass over the
    // fact — skip it (this pass was q137's round-10 0.3 s regression)
    val salted = threshold <= 0.0 || topKeyShare(fact, key) > threshold
    if (!salted) (fact.join(dim, Seq(key)), false)
    else {
      val f = fact.withColumn(
        SaltCol,
        pmod(monotonically_increasing_id(), lit(salts.toLong)).cast(IntegerType))
      val d = dim.withColumn(SaltCol, explode(sequence(lit(0), lit(salts - 1))))
      (f.join(d, Seq(key, SaltCol)).drop(SaltCol), true)
    }
  }

  /** The 1-row sketch aggregate over lineitem: the row count, and per
    * column a non-null count, an HLL distinct estimate (rsd 2%) and
    * min/max. [[approxProfileSketch]] and q114 both run this one plan.
    */
  private def profileSketchAgg(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    def decS(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)").cast("string")
    Tables.lineitem(s, d)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("l_quantity")).as("nn_q"),
        approx_count_distinct(col("l_quantity"), 0.02).as("nd_q"),
        decS(min(col("l_quantity"))).as("min_q"), decS(max(col("l_quantity"))).as("max_q"),
        count(col("l_extendedprice")).as("nn_p"),
        approx_count_distinct(col("l_extendedprice"), 0.02).as("nd_p"),
        decS(min(col("l_extendedprice"))).as("min_p"), decS(max(col("l_extendedprice"))).as("max_p"),
        count(col("l_discount")).as("nn_d"),
        approx_count_distinct(col("l_discount"), 0.02).as("nd_d"),
        decS(min(col("l_discount"))).as("min_d"), decS(max(col("l_discount"))).as("max_d"),
        count(col("l_returnflag")).as("nn_f"),
        approx_count_distinct(col("l_returnflag"), 0.02).as("nd_f"),
        min(col("l_returnflag")).as("min_f"), max(col("l_returnflag")).as("max_f"),
        count(col("l_shipdate")).as("nn_s"),
        approx_count_distinct(col("l_shipdate"), 0.02).as("nd_s"),
        date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_s"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_s"))
  }

  /** q114's PRODUCTION surface: the sketch-only column profile — one
    * unamplified lineitem scan, every distinct estimated by a
    * fixed-size mergeable HLL (no Expand). The registered q114 wraps
    * this shape in the bounded-error certificate (exact arms +
    * within-5% booleans) so the driver can hash-gate it; PlanSpec pins
    * THIS method's plan, which is what a 100 TB profile job runs.
    */
  private[graft] def approxProfileSketch(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    profileSketchAgg(s, d)
      .select(inline(array(
        struct(lit("l_discount").as("col_name"), (col("n_rows") - col("nn_d")).as("n_null"),
          col("nd_d").as("n_distinct"), col("min_d").as("min_v"), col("max_d").as("max_v")),
        struct(lit("l_extendedprice").as("col_name"), (col("n_rows") - col("nn_p")).as("n_null"),
          col("nd_p").as("n_distinct"), col("min_p").as("min_v"), col("max_p").as("max_v")),
        struct(lit("l_quantity").as("col_name"), (col("n_rows") - col("nn_q")).as("n_null"),
          col("nd_q").as("n_distinct"), col("min_q").as("min_v"), col("max_q").as("max_v")),
        struct(lit("l_returnflag").as("col_name"), (col("n_rows") - col("nn_f")).as("n_null"),
          col("nd_f").as("n_distinct"), col("min_f").as("min_v"), col("max_f").as("max_v")),
        struct(lit("l_shipdate").as("col_name"), (col("n_rows") - col("nn_s")).as("n_null"),
          col("nd_s").as("n_distinct"), col("min_s").as("min_v"), col("max_s").as("max_v")))))
      .orderBy(col("col_name"))
  }

  val all: Seq[Q] = Seq(
    // Banded range self-join: pairs of orders by the same customer
    // placed within 30 days of each other (reorder-interval analysis).
    // The scale path for a range predicate is BANDING: bucket each row
    // into floor(day/30); a qualifying pair can differ by at most one
    // bucket, so exploding the probe side into its 3 candidate buckets
    // and equi-joining on (custkey, bucket) bounds comparisons to
    // +-1 band instead of all-pairs-per-customer. Each qualifying pair
    // meets exactly once (the build side keeps its single bucket), so
    // no dedup pass is needed. 3x probe amplification buys a pure
    // equi-join shuffle — no theta join, no per-key quadratic blowup.
    Q(
      "q104_reorder_pairs",
      (s, d) => {
        val o = Tables.orders(s, d).select(
          col("o_custkey"), col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("day"))
        val probe = o
          .withColumn("jb", explode(array(
            expr("day div 30") - 1, expr("day div 30"), expr("day div 30") + 1)))
        val build = o
          .withColumn("band", expr("day div 30"))
          .select(
            col("o_custkey"), col("band"),
            col("o_orderkey").as("ok2"), col("day").as("day2"))
        probe
          .join(
            build,
            probe("o_custkey") === build("o_custkey") && col("jb") === col("band") &&
              probe("o_orderkey") < col("ok2") &&
              abs(col("day") - col("day2")) <= 30,
            "inner")
          .select(
            probe("o_custkey").as("custkey"),
            probe("o_orderkey").as("ok1"),
            col("ok2"),
            abs(col("day") - col("day2")).cast(IntegerType).as("gap_days"))
          .orderBy(col("custkey"), col("ok1"), col("ok2"))
      },
      Some("""
        SELECT o1.o_custkey AS custkey,
               o1.o_orderkey AS ok1,
               o2.o_orderkey AS ok2,
               CAST(abs(date_diff('day', CAST(o1.o_orderdate AS DATE),
                                  CAST(o2.o_orderdate AS DATE))) AS INT) AS gap_days
        FROM orders o1
        JOIN orders o2
          ON o1.o_custkey = o2.o_custkey
         AND o1.o_orderkey < o2.o_orderkey
         AND abs(date_diff('day', CAST(o1.o_orderdate AS DATE),
                           CAST(o2.o_orderdate AS DATE))) <= 30
        ORDER BY custkey, ok1, ok2""")
    ),

    // SCD Type-2 merge: reconcile the current supplier dimension with
    // an incoming restated snapshot (here: accounts in every 5th nation
    // restated +100). Changed keys close their current version at the
    // restatement date and open a new current one; unchanged keys keep
    // their open-ended version; the insert/delete branches of the
    // full-outer merge live in [[scd2Merge]] (unreachable from this
    // feed — cur and inc derive from the same table — and pinned in
    // WarehouseSpec instead). One shuffle on the dimension key, no
    // windows. This is the maintenance verb behind the reference's
    // cost/list-price history tables
    // (/root/reference/notebooks/etl_transform.ipynb cell 14).
    Q(
      "q105_scd2_merge",
      (s, d) => {
        val cur = Tables.supplier(s, d)
          .select(col("s_suppkey").as("key"), col("s_acctbal").as("bal"))
        val inc = Tables.supplier(s, d).select(
          col("s_suppkey").as("key"),
          when(col("s_nationkey") % 5 === 0, col("s_acctbal") + 100.0)
            .otherwise(col("s_acctbal")).as("new_bal"))
        scd2Merge(cur, inc, "2020-01-01", "2026-01-01", "9999-12-31")
          .select(
            col("key").as("s_suppkey"), col("bal").as("s_acctbal"),
            col("valid_from"), col("valid_to"), col("is_current"))
          .orderBy(col("s_suppkey"), col("valid_from"))
      },
      Some("""
        WITH cur AS (SELECT s_suppkey, s_acctbal FROM supplier),
        inc AS (SELECT s_suppkey,
                       CASE WHEN s_nationkey % 5 = 0 THEN s_acctbal + 100.0
                            ELSE s_acctbal END AS new_bal
                FROM supplier),
        j AS (SELECT cur.s_suppkey, cur.s_acctbal, inc.new_bal,
                     inc.new_bal <> cur.s_acctbal AS changed
              FROM cur JOIN inc USING (s_suppkey))
        SELECT s_suppkey, s_acctbal, '2020-01-01' AS valid_from,
               CASE WHEN changed THEN '2026-01-01' ELSE '9999-12-31' END AS valid_to,
               NOT changed AS is_current
        FROM j
        UNION ALL
        SELECT s_suppkey, new_bal AS s_acctbal, '2026-01-01' AS valid_from,
               '9999-12-31' AS valid_to, TRUE AS is_current
        FROM j WHERE changed
        ORDER BY s_suppkey, valid_from""")
    ),

    // One-pass column profiling (data-quality scan): null count, exact
    // distinct count, and min/max for five heterogeneous lineitem
    // columns, in a SINGLE scan — one global aggregate whose result row
    // is inlined into one profile row per column. Numeric bounds are
    // canonicalized through DECIMAL(18,2) so both engines render the
    // same string. The multi-column exact COUNT(DISTINCT) costs an
    // Expand (x6 row amplification map-side, partial states only over
    // the shuffle); at 100 TB swap `approx_count_distinct` per column
    // — same plan minus the Expand — when +-2% error is acceptable.
    Q(
      "q106_column_profile",
      (s, d) => {
        // min/max are taken NUMERICALLY and canonicalized to a string
        // afterwards (min over the rendered string would be lexicographic)
        def decS(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)").cast("string")
        Tables.lineitem(s, d)
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("l_quantity")).as("nn_q"),
            countDistinct(col("l_quantity")).as("nd_q"),
            decS(min(col("l_quantity"))).as("min_q"), decS(max(col("l_quantity"))).as("max_q"),
            count(col("l_extendedprice")).as("nn_p"),
            countDistinct(col("l_extendedprice")).as("nd_p"),
            decS(min(col("l_extendedprice"))).as("min_p"), decS(max(col("l_extendedprice"))).as("max_p"),
            count(col("l_discount")).as("nn_d"),
            countDistinct(col("l_discount")).as("nd_d"),
            decS(min(col("l_discount"))).as("min_d"), decS(max(col("l_discount"))).as("max_d"),
            count(col("l_returnflag")).as("nn_f"),
            countDistinct(col("l_returnflag")).as("nd_f"),
            min(col("l_returnflag")).as("min_f"), max(col("l_returnflag")).as("max_f"),
            count(col("l_shipdate")).as("nn_s"),
            countDistinct(col("l_shipdate")).as("nd_s"),
            date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_s"),
            date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_s"))
          .select(inline(array(
            struct(lit("l_discount").as("col_name"), (col("n_rows") - col("nn_d")).as("n_null"),
              col("nd_d").as("n_distinct"), col("min_d").as("min_v"), col("max_d").as("max_v")),
            struct(lit("l_extendedprice").as("col_name"), (col("n_rows") - col("nn_p")).as("n_null"),
              col("nd_p").as("n_distinct"), col("min_p").as("min_v"), col("max_p").as("max_v")),
            struct(lit("l_quantity").as("col_name"), (col("n_rows") - col("nn_q")).as("n_null"),
              col("nd_q").as("n_distinct"), col("min_q").as("min_v"), col("max_q").as("max_v")),
            struct(lit("l_returnflag").as("col_name"), (col("n_rows") - col("nn_f")).as("n_null"),
              col("nd_f").as("n_distinct"), col("min_f").as("min_v"), col("max_f").as("max_v")),
            struct(lit("l_shipdate").as("col_name"), (col("n_rows") - col("nn_s")).as("n_null"),
              col("nd_s").as("n_distinct"), col("min_s").as("min_v"), col("max_s").as("max_v")))))
          .orderBy(col("col_name"))
      },
      Some("""
        SELECT 'l_discount' AS col_name,
               CAST(COUNT(*) - COUNT(l_discount) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS n_distinct,
               CAST(MIN(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS min_v,
               CAST(MAX(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS max_v
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice',
               CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
               CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
               CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR),
               CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity',
               CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT),
               CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
               CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR),
               CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_returnflag',
               CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
               CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
               MIN(l_returnflag), MAX(l_returnflag)
        FROM lineitem
        UNION ALL
        SELECT 'l_shipdate',
               CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT),
               CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
               strftime(MIN(CAST(l_shipdate AS TIMESTAMP)), '%Y-%m-%d'),
               strftime(MAX(CAST(l_shipdate AS TIMESTAMP)), '%Y-%m-%d')
        FROM lineitem
        ORDER BY col_name""")
    ),

    // The 100 TB form of q106: `approx_count_distinct` (HLL++, rsd 2%,
    // a fixed-size mergeable sketch per column) replaces the exact
    // multi-distinct — the production call is the sketch aggregate
    // alone ([[approxProfileSketch]]: no Expand; the exact form
    // amplifies every fact row ×6 map-side). HLL estimates are engine-
    // specific, so the DRIVER-GATED output is the bounded-error
    // certificate: the exact per-column cardinalities (the arm DuckDB
    // recomputes — this gate form pays the q106 Expand on top of the
    // sketches; re-baselined round 11) plus one boolean per column
    // asserting the HLL estimate sits within 5% of exact (rsd 0.02 →
    // 2.5σ; HLL is deterministic for fixed data). ApproxSpec
    // additionally pins the rsd margin and PlanSpec pins that
    // [[approxProfileSketch]] plans without Expand on a single scan.
    Q(
      "q114_approx_profile",
      (s, d) => {
        def ok(appr: String, exact: String) =
          abs(col(appr) - col(exact)) * 100 <= col(exact) * 5
        // TWO single-purpose scans joined on their 1-row results: the
        // sketch arm ([[profileSketchAgg]], the plain hash agg with no
        // Expand that [[approxProfileSketch]] runs) and the exact arm
        // (the q106 multi-distinct Expand). Mixing countDistinct with HLL
        // sketches in ONE aggregate forces the sketch updates through
        // the 5× Expand amplification under a non-codegen aggregate —
        // measured 90× slower than the two scans separately.
        val exactArm = Tables.lineitem(s, d)
          .agg(
            countDistinct(col("l_quantity")).as("xd_q"),
            countDistinct(col("l_extendedprice")).as("xd_p"),
            countDistinct(col("l_discount")).as("xd_d"),
            countDistinct(col("l_returnflag")).as("xd_f"),
            countDistinct(col("l_shipdate")).as("xd_s"))
        profileSketchAgg(s, d).crossJoin(exactArm)
          .select(inline(array(
            struct(lit("l_discount").as("col_name"), (col("n_rows") - col("nn_d")).as("n_null"),
              col("xd_d").as("n_distinct"), ok("nd_d", "xd_d").as("approx_ok"),
              col("min_d").as("min_v"), col("max_d").as("max_v")),
            struct(lit("l_extendedprice").as("col_name"), (col("n_rows") - col("nn_p")).as("n_null"),
              col("xd_p").as("n_distinct"), ok("nd_p", "xd_p").as("approx_ok"),
              col("min_p").as("min_v"), col("max_p").as("max_v")),
            struct(lit("l_quantity").as("col_name"), (col("n_rows") - col("nn_q")).as("n_null"),
              col("xd_q").as("n_distinct"), ok("nd_q", "xd_q").as("approx_ok"),
              col("min_q").as("min_v"), col("max_q").as("max_v")),
            struct(lit("l_returnflag").as("col_name"), (col("n_rows") - col("nn_f")).as("n_null"),
              col("xd_f").as("n_distinct"), ok("nd_f", "xd_f").as("approx_ok"),
              col("min_f").as("min_v"), col("max_f").as("max_v")),
            struct(lit("l_shipdate").as("col_name"), (col("n_rows") - col("nn_s")).as("n_null"),
              col("xd_s").as("n_distinct"), ok("nd_s", "xd_s").as("approx_ok"),
              col("min_s").as("min_v"), col("max_s").as("max_v")))))
          .orderBy(col("col_name"))
      },
      Some("""
        SELECT col_name, n_null, n_distinct, TRUE AS approx_ok, min_v, max_v FROM (
        SELECT 'l_discount' AS col_name,
               CAST(COUNT(*) - COUNT(l_discount) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS n_distinct,
               CAST(MIN(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS min_v,
               CAST(MAX(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS max_v
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice',
               CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
               CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
               CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR),
               CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity',
               CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT),
               CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
               CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR),
               CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_returnflag',
               CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
               CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
               MIN(l_returnflag), MAX(l_returnflag)
        FROM lineitem
        UNION ALL
        SELECT 'l_shipdate',
               CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT),
               CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
               strftime(MIN(CAST(l_shipdate AS TIMESTAMP)), '%Y-%m-%d'),
               strftime(MAX(CAST(l_shipdate AS TIMESTAMP)), '%Y-%m-%d')
        FROM lineitem)
        ORDER BY col_name""")
    ),

    // Declarative data-quality EXPECTATIONS (the dbt-test / great-
    // expectations verb): a fixed check suite — null-rate, value
    // ranges, domain cardinality, date bounds — evaluated from ONE
    // scan's aggregate row and emitted as a (check, passed, observed)
    // report. The checks a warehouse runs after every load; observed
    // values are canonicalized through the q106 decimal-string recipe
    // so the report hashes identically in both engines. Single fact
    // scan (same shape as q106, pinned in WarehouseSpec).
    Q(
      "q125_expectations",
      (s, d) => {
        def decS(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)").cast("string")
        // range checks compare NUMERIC aggregates (decimal-string
        // comparison would be lexicographic: '9.00' > '50.00'); the
        // canonical strings are only the report's observed rendering
        Tables.lineitem(s, d)
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("l_quantity")).as("nn_q"),
            min(col("l_quantity")).as("minq_n"),
            max(col("l_quantity")).as("maxq_n"),
            min(col("l_discount")).as("mind_n"),
            max(col("l_discount")).as("maxd_n"),
            countDistinct(col("l_returnflag")).as("nd_f"),
            date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_s"),
            date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_s"))
          .select(inline(array(
            struct(
              lit("l_discount_in_[0,0.1]").as("check_name"),
              (col("mind_n") >= 0.0 && col("maxd_n") <= 0.1).as("passed"),
              concat(decS(col("mind_n")), lit(".."), decS(col("maxd_n"))).as("observed")),
            struct(
              lit("l_quantity_not_null").as("check_name"),
              (col("n_rows") === col("nn_q")).as("passed"),
              concat(lit("nulls="), (col("n_rows") - col("nn_q")).cast("string")).as("observed")),
            struct(
              lit("l_quantity_in_[1,50]").as("check_name"),
              (col("minq_n") >= 1.0 && col("maxq_n") <= 50.0).as("passed"),
              concat(decS(col("minq_n")), lit(".."), decS(col("maxq_n"))).as("observed")),
            struct(
              lit("l_returnflag_domain<=3").as("check_name"),
              (col("nd_f") <= 3).as("passed"),
              concat(lit("distinct="), col("nd_f").cast("string")).as("observed")),
            struct(
              lit("l_shipdate_in_[1992,2003]").as("check_name"),
              (col("min_s") >= "1992-01-01" && col("max_s") <= "2003-12-31").as("passed"),
              concat(col("min_s"), lit(".."), col("max_s")).as("observed")))))
          .orderBy(col("check_name"))
      },
      Some("""
        WITH m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(COUNT(l_quantity) AS BIGINT) AS nn_q,
                 MIN(l_quantity) AS minq_n, MAX(l_quantity) AS maxq_n,
                 MIN(l_discount) AS mind_n, MAX(l_discount) AS maxd_n,
                 CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS nd_f,
                 strftime(MIN(CAST(l_shipdate AS TIMESTAMP)), '%Y-%m-%d') AS min_s,
                 strftime(MAX(CAST(l_shipdate AS TIMESTAMP)), '%Y-%m-%d') AS max_s
          FROM lineitem)
        SELECT 'l_discount_in_[0,0.1]' AS check_name,
               (mind_n >= 0.0 AND maxd_n <= 0.1) AS passed,
               CAST(CAST(mind_n AS DECIMAL(18,2)) AS VARCHAR) || '..'
                 || CAST(CAST(maxd_n AS DECIMAL(18,2)) AS VARCHAR) AS observed FROM m
        UNION ALL
        SELECT 'l_quantity_not_null', n_rows = nn_q,
               'nulls=' || CAST(n_rows - nn_q AS VARCHAR) FROM m
        UNION ALL
        SELECT 'l_quantity_in_[1,50]',
               (minq_n >= 1.0 AND maxq_n <= 50.0),
               CAST(CAST(minq_n AS DECIMAL(18,2)) AS VARCHAR) || '..'
                 || CAST(CAST(maxq_n AS DECIMAL(18,2)) AS VARCHAR) FROM m
        UNION ALL
        SELECT 'l_returnflag_domain<=3', nd_f <= 3,
               'distinct=' || CAST(nd_f AS VARCHAR) FROM m
        UNION ALL
        SELECT 'l_shipdate_in_[1992,2003]',
               (min_s >= '1992-01-01' AND max_s <= '2003-12-31'),
               min_s || '..' || max_s FROM m
        ORDER BY check_name""")
    ),

    // Hopping (sliding) windows in batch: 10-minute windows advancing
    // every 5 minutes via the built-in `window(ts, width, slide)`
    // generator — each event lands in exactly width/slide = 2 windows,
    // Spark expands them map-side (no self-join), then one hash agg on
    // (window, type). The streaming twin is q59's tumbling window; the
    // oracle reconstructs the same window set arithmetically (start =
    // floor(epoch/slide)*slide - k*slide for k in 0..1, epoch-aligned
    // exactly like Spark's window()).
    Q(
      "q107_hopping_windows",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(
            window(col("ts"), "10 minutes", "5 minutes").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(
            unix_seconds(col("w.start")).as("start_s"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy(col("start_s"), col("event_type")),
      Some("""
        WITH e AS (
          SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
                 event_type, value
          FROM events
        ), w AS (
          SELECT (es // 300) * 300 - 300 * k AS start_s, event_type, value
          FROM e CROSS JOIN (VALUES (0), (1)) AS offs(k)
        )
        SELECT start_s, event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        FROM w GROUP BY 1, 2 ORDER BY 1, 2""")
    ),

    // Exact per-group quantiles: interpolated percentiles of document
    // length per language via the built-in exact `percentile` aggregate
    // (rank r = p*(n-1), linear interpolation — the same definition as
    // DuckDB's quantile_cont). One hash agg; the four probes share one
    // sorted-counts pass inside the aggregate. Inputs are integers so
    // the interpolated doubles are exact in both engines. At 100 TB
    // swap `approx_percentile` (t-digest, mergeable) when exactness is
    // not required — same call shape.
    Q(
      "q108_doclen_quantiles",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(col("lang"))
          .agg(expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D, 0.9D))").as("qs"))
          .select(col("lang"), posexplode(col("qs")))
          .select(
            col("lang"),
            element_at(array(lit(0.25), lit(0.5), lit(0.75), lit(0.9)), col("pos") + 1).as("p"),
            col("col").as("n_chars_q"))
          .orderBy(col("lang"), col("p")),
      Some("""
        SELECT lang, CAST(0.25 AS DOUBLE) AS p,
               quantile_cont(n_chars, 0.25) AS n_chars_q
        FROM documents GROUP BY lang
        UNION ALL
        SELECT lang, CAST(0.5 AS DOUBLE), quantile_cont(n_chars, 0.5)
        FROM documents GROUP BY lang
        UNION ALL
        SELECT lang, CAST(0.75 AS DOUBLE), quantile_cont(n_chars, 0.75)
        FROM documents GROUP BY lang
        UNION ALL
        SELECT lang, CAST(0.9 AS DOUBLE), quantile_cont(n_chars, 0.9)
        FROM documents GROUP BY lang
        ORDER BY lang, p""")
    ),

    // The 100 TB form of q108: `approx_percentile` (Greenwald-Khanna
    // style mergeable sketch, rank error <= 1/accuracy) replaces the
    // exact percentile — the same one-hash-agg call shape, but the
    // per-group state is a bounded sketch instead of the full sorted
    // value multiset, so a group with a billion rows costs the same
    // memory as one with a thousand. The sketch returns actual
    // elements (no interpolation), so estimates are engine-specific:
    // the DRIVER-GATED output is the rank-error certificate — the
    // exact interpolated quantiles at p ± 0.02 (the bracket arms
    // DuckDB recomputes via quantile_cont, 20× the sketch's 0.001
    // rank-error budget) plus a boolean asserting the sketch value
    // lies inside its bracket. A sketch that violated its rank
    // guarantee flips the boolean and fails the hash. ApproxSpec
    // additionally pins the empirical rank of the raw estimates.
    Q(
      "q118_approx_quantiles",
      (s, d) => {
        val ps = Seq(0.25, 0.5, 0.75, 0.9)
        // probe literals spelled out so Spark and DuckDB parse the SAME
        // decimal text to the SAME double (0.25 - 0.02 in double
        // arithmetic would print as 0.22999999999999998)
        Tables.documents(s, d)
          .groupBy(col("lang"))
          .agg(
            expr("approx_percentile(n_chars, array(0.25D, 0.5D, 0.75D, 0.9D), 1000)").as("qs"),
            expr("percentile(n_chars, array(0.23D, 0.48D, 0.73D, 0.88D))").as("qlo"),
            expr("percentile(n_chars, array(0.27D, 0.52D, 0.77D, 0.92D))").as("qhi"),
            count(lit(1)).as("n_docs"))
          .select(col("lang"), col("n_docs"), col("qlo"), col("qhi"), posexplode(col("qs")))
          .select(
            col("lang"),
            element_at(array(ps.map(lit): _*), col("pos") + 1).as("p"),
            element_at(col("qlo"), col("pos") + 1).as("q_lo"),
            element_at(col("qhi"), col("pos") + 1).as("q_hi"),
            col("n_docs"),
            (col("col") >= element_at(col("qlo"), col("pos") + 1) &&
              col("col") <= element_at(col("qhi"), col("pos") + 1)).as("in_bracket"))
          .orderBy(col("lang"), col("p"))
      },
      Some {
        val probes = Seq(("0.25", "0.23", "0.27"), ("0.5", "0.48", "0.52"),
          ("0.75", "0.73", "0.77"), ("0.9", "0.88", "0.92"))
        probes.map { case (p, lo, hi) => s"""
        SELECT lang, CAST($p AS DOUBLE) AS p,
               quantile_cont(n_chars, $lo) AS q_lo,
               quantile_cont(n_chars, $hi) AS q_hi,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               TRUE AS in_bracket
        FROM documents GROUP BY lang""" }.mkString("\n        UNION ALL") +
          "\n        ORDER BY lang, p"
      }
    ),

    // q118's PORTABLE twin, ORACLE-GATED: quantiles from a
    // DETERMINISTIC hash sample — keep exactly the docs whose md5 h60
    // lands in a fixed 10% stratum (the same subset in any engine, any
    // run, any partitioning — unlike TABLESAMPLE/rand()), then exact
    // interpolated percentiles of the sample (the q108 parity pair).
    // The 100 TB posture: the sample is ~n/10 rows with the quantile
    // state bounded by the sample, the scan prunes nothing but ships
    // only sampled rows into the agg, and the estimate carries its
    // sample size so consumers can reason about error (~1/sqrt(m) rank
    // error). The native mergeable-sketch surface stays q118.
    Q(
      "q147_sample_quantiles",
      (s, d) =>
        Tables.documents(s, d)
          .filter(
            graft.functions.TextFns.h60(
              concat(lit("s"), col("doc_id").cast("string"))) % 10 === 0)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_sample"),
            expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D, 0.9D))").as("qs"))
          .select(col("lang"), col("n_sample"), posexplode(col("qs")))
          .select(
            col("lang"),
            element_at(array(lit(0.25), lit(0.5), lit(0.75), lit(0.9)), col("pos") + 1).as("p"),
            col("col").as("n_chars_q"),
            col("n_sample"))
          .orderBy(col("lang"), col("p")),
      Some(s"""
        WITH smp AS (
          SELECT lang, n_chars FROM documents
          WHERE ${graft.functions.TextFns.Sql.h60("'s' || CAST(doc_id AS VARCHAR)")} % 10 = 0)
        SELECT lang, CAST(0.25 AS DOUBLE) AS p, quantile_cont(n_chars, 0.25) AS n_chars_q,
               CAST(COUNT(*) AS BIGINT) AS n_sample
        FROM smp GROUP BY lang
        UNION ALL
        SELECT lang, CAST(0.5 AS DOUBLE), quantile_cont(n_chars, 0.5), CAST(COUNT(*) AS BIGINT)
        FROM smp GROUP BY lang
        UNION ALL
        SELECT lang, CAST(0.75 AS DOUBLE), quantile_cont(n_chars, 0.75), CAST(COUNT(*) AS BIGINT)
        FROM smp GROUP BY lang
        UNION ALL
        SELECT lang, CAST(0.9 AS DOUBLE), quantile_cont(n_chars, 0.9), CAST(COUNT(*) AS BIGINT)
        FROM smp GROUP BY lang
        ORDER BY lang, p""")
    ),

    // Per-source document quota (C4/CCNet-style domain cap): keep the
    // top 5 documents per source by length (doc_id tiebreak) through
    // the native bounded-heap aggregate — each partition ships at most
    // 5 candidates per source across the shuffle, so a hot domain with
    // millions of documents costs the same network as a cold one
    // (a row_number window would shuffle and sort the full corpus).
    Q(
      "q109_source_quota",
      (s, d) => {
        graft.functions.TopKAgg.register(s)
        Tables.documents(s, d)
          .select(col("source"), (-col("n_chars")).as("neg_len"), col("doc_id"))
          .groupBy(col("source"))
          .agg(expr("graft_top_k(struct(neg_len, doc_id), 5)").as("top"))
          .select(col("source"), posexplode(col("top")))
          .select(
            col("source"),
            (col("pos") + 1).cast(IntegerType).as("rk"),
            col("col.doc_id").as("doc_id"),
            (-col("col.neg_len")).cast(LongType).as("n_chars"))
          .orderBy(col("source"), col("rk"))
      },
      Some("""
        WITH r AS (
          SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM documents
        )
        SELECT source, CAST(rn AS INT) AS rk, doc_id, n_chars
        FROM r WHERE rn <= 5
        ORDER BY source, rk""")
    ),

    // CDC changelog apply (upsert/delete merge): collapse a keyed,
    // sequenced changelog to its latest entry per key (row_number
    // top-1 — planned as a bounded aggregate by TopKRewrite, so only
    // one candidate per key per partition crosses the shuffle), then
    // full-outer merge onto the snapshot: latest op D deletes the key,
    // U replaces the payload, absent keys pass through. One shuffle for
    // the collapse, one keyed join for the apply — the batch form of
    // the streaming upsert sink. The changelog here is synthesized from
    // lineitem (seq = linenumber, every 7th entry a delete).
    Q(
      "q110_cdc_apply",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val snap = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        val log = Tables.lineitem(s, d).select(
          col("l_orderkey").as("k"),
          col("l_linenumber").as("seq"),
          when(col("l_linenumber") % 7 === 0, lit("D")).otherwise(lit("U")).as("op"),
          col("l_extendedprice").as("new_val"))
        // (l_orderkey, l_linenumber) is lineitem's primary key, so seq
        // alone already totally orders this changelog; the new_val
        // tiebreak is defensive (real CDC feeds can carry duplicate
        // sequence numbers) and keeps the sort total under any feed —
        // the oracle sorts identically, so parity is unaffected
        val latest = log
          .withColumn("rn",
            row_number().over(
              Window.partitionBy(col("k")).orderBy(col("seq").desc, col("new_val").desc)))
          .filter(col("rn") === 1)
          .drop("rn", "seq")
        snap
          .join(latest, col("o_orderkey") === col("k"), "full_outer")
          .filter(col("op").isNull || col("op") =!= "D")
          .select(
            coalesce(col("o_orderkey"), col("k")).as("o_orderkey"),
            coalesce(col("new_val"), col("o_totalprice")).as("price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH log AS (
          SELECT l_orderkey AS k, l_linenumber AS seq,
                 CASE WHEN l_linenumber % 7 = 0 THEN 'D' ELSE 'U' END AS op,
                 l_extendedprice AS new_val
          FROM lineitem
        ), latest AS (
          SELECT k, op, new_val FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC, new_val DESC) AS rn
            FROM log) WHERE rn = 1
        )
        SELECT COALESCE(s.o_orderkey, l.k) AS o_orderkey,
               COALESCE(l.new_val, s.o_totalprice) AS price
        FROM orders s FULL OUTER JOIN latest l ON s.o_orderkey = l.k
        WHERE l.op IS NULL OR l.op <> 'D'
        ORDER BY o_orderkey""")
    ),

    // Daily-revenue outlier flags: one keyed agg builds the per-day
    // revenue series (decimal-exact), a single-row scalar aggregate
    // computes the population moments, and a broadcast cross join tags
    // each day with its z-score — no global window, so the series never
    // collapses to one partition. All post-agg arithmetic is IEEE
    // double on bitwise-identical inputs (z rounded to 6dp, the q55
    // recipe), so the oracle hash-matches.
    Q(
      "q111_revenue_outliers",
      (s, d) => {
        val daily = Tables.lineitem(s, d)
          .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        val stats = daily.agg(
          count(lit(1)).as("n"),
          dsum(col("rev")).as("s1"),
          dsum(col("rev") * col("rev")).as("s2"))
        val mean = col("s1") / col("n")
        val std = sqrt(greatest(col("s2") / col("n") - mean * mean, lit(0.0)))
        // filter on the RAW z and round only in the select, mirroring
        // the oracle's WHERE/SELECT split — filtering on the rounded
        // value would drop a raw |z| in (2.0, 2.0000005] that the
        // oracle keeps
        daily
          .crossJoin(broadcast(stats))
          .withColumn("z_raw", (col("rev") - mean) / when(std =!= 0.0, std))
          .filter(abs(col("z_raw")) > 2.0)
          .select(col("day"), col("rev"), round(col("z_raw"), 6).as("z"))
          .orderBy(col("day"))
      },
      Some("""
        WITH daily AS (
          SELECT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d') AS day,
                 CAST(SUM(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
                               AS DECIMAL(38,6))) AS DOUBLE) AS rev
          FROM lineitem GROUP BY 1
        ), stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS s1,
                 CAST(SUM(CAST(rev * rev AS DECIMAL(38,6))) AS DOUBLE) AS s2
          FROM daily
        )
        SELECT day, rev,
               round((rev - s1 / n)
                     / NULLIF(sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)), 0.0),
                     6) AS z
        FROM daily CROSS JOIN stats
        WHERE abs((rev - s1 / n)
                  / NULLIF(sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)), 0.0)) > 2.0
        ORDER BY day""")
    ),

    // Equi-width histogram of order value: pass 1 is a single-row
    // min/max aggregate (broadcast), pass 2 bins every row with pure
    // double arithmetic — the canonical two-pass profile at any scale
    // (no sort, no window; the bin map is one shuffle on ≤20 keys).
    // The max value is clamped into the last bin.
    Q(
      "q112_price_histogram",
      (s, d) => {
        val o = Tables.orders(s, d).select(col("o_totalprice").as("x"))
        val stats = o.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
        val width = (col("hi") - col("lo")) / lit(20.0)
        o.crossJoin(broadcast(stats))
          .withColumn("bin",
            least(floor((col("x") - col("lo")) / width), lit(19.0)).cast(IntegerType))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(stats))
          .select(
            col("bin"),
            round(col("lo") + col("bin") * width, 6).as("bin_lo"),
            round(col("lo") + (col("bin") + 1) * width, 6).as("bin_hi"),
            col("n"))
          .orderBy(col("bin"))
      },
      Some("""
        WITH stats AS (
          SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
        ), binned AS (
          SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20.0)), 19.0) AS INT) AS bin
          FROM orders CROSS JOIN stats
        )
        SELECT bin,
               round(lo + bin * ((hi - lo) / 20.0), 6) AS bin_lo,
               round(lo + (bin + 1) * ((hi - lo) / 20.0), 6) AS bin_hi,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM binned CROSS JOIN stats
        GROUP BY bin, lo, hi ORDER BY bin""")
    ),

    // Delivery-time price-distribution drift — the q175/q176 monitor
    // on the NUMERIC surface (the PSI shape, share gaps instead of
    // ln-ratios since ln() is not engine-portable): the standing
    // corpus (90% md5 bucket of ORDERS) commits its 20-bin totalprice
    // histogram AND the binning scalars (lo, hi) as snapshots — the
    // bins are FROZEN with the standing corpus, the monitoring
    // contract (re-deriving bins from merged data would mask the
    // drift it exists to catch); the delivery (10% bucket) bins with
    // the PINNED edges, out-of-range values clamped into the edge
    // bins (greatest/least — a delivery priced outside the standing
    // range lands visibly in bin 0/19). Per-bin drift is the exact
    // integer share gap of q175, DECIMAL/HUGEINT-widened. Serving:
    // one delta scan + a 20-row join; histogram frames never exceed
    // the bin count at any corpus scale.
    Q(
      "q177_price_drift",
      (s, d) => {
        val h = graft.functions.TextFns.h60(col("o_orderkey").cast("string")) % 100
        val o = Tables.orders(s, d)
          .select(col("o_totalprice").as("x"), h.as("bucket"))
        def width = (col("hi") - col("lo")) / lit(20.0)
        val (hDir, vh, sDir, vs) = priceDriftIndex(s, d)
        // ---- serving side: everything below reads the PINNED index
        val base = Snapshots.read(s, hDir, Some(vh))
        val pinned = Snapshots.read(s, sDir, Some(vs))
        val delta = o.filter(col("bucket") >= 90).select(col("x"))
          .crossJoin(broadcast(pinned))
          .withColumn("bin",
            greatest(least(floor((col("x") - col("lo")) / width), lit(19.0)), lit(0.0))
              .cast(IntegerType))
          .groupBy(col("bin")).agg(count(lit(1)).as("n_delta"))
        val joined = base.join(delta, Seq("bin"), "full_outer")
          .select(col("bin"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_delta"), lit(0L)).as("n_delta"))
          .cache()
        val scal = joined.agg(sum(col("n_base")).as("nb"), sum(col("n_delta")).as("nd"))
        joined.crossJoin(broadcast(scal))
          .select(
            col("bin"), col("n_base"), col("n_delta"),
            expr("CAST((CAST(n_base AS DECIMAL(38,0)) * 1000000) div nb AS BIGINT)")
              .as("share_base_micro"),
            expr("CAST((CAST(n_delta AS DECIMAL(38,0)) * 1000000) div nd AS BIGINT)")
              .as("share_delta_micro"),
            expr("""CAST((abs(CAST(n_base AS DECIMAL(38,0)) * nd
                             - CAST(n_delta AS DECIMAL(38,0)) * nb) * 1000000)
                    div (CAST(nb AS DECIMAL(38,0)) * nd) AS BIGINT)""")
              .as("drift_micro"))
          .orderBy(col("bin"))
      },
      Some {
        val h = graft.functions.TextFns.Sql.h60("CAST(o_orderkey AS VARCHAR)")
        s"""
        WITH o AS MATERIALIZED (
          SELECT o_totalprice AS x, ($h % 100) AS bucket FROM orders),
        st AS MATERIALIZED (
          SELECT MIN(x) AS lo, MAX(x) AS hi FROM o WHERE bucket < 90),
        bh AS (
          SELECT CAST(least(floor((x - lo) / ((hi - lo) / 20.0)), 19.0) AS INT) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n_base
          FROM o CROSS JOIN st WHERE bucket < 90 GROUP BY 1),
        dh AS (
          SELECT CAST(greatest(least(floor((x - lo) / ((hi - lo) / 20.0)), 19.0), 0.0) AS INT) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n_delta
          FROM o CROSS JOIN st WHERE bucket >= 90 GROUP BY 1),
        j AS MATERIALIZED (
          SELECT COALESCE(bh.bin, dh.bin) AS bin,
                 COALESCE(bh.n_base, 0) AS n_base,
                 COALESCE(dh.n_delta, 0) AS n_delta
          FROM bh FULL OUTER JOIN dh ON bh.bin = dh.bin),
        t AS (SELECT CAST(SUM(n_base) AS BIGINT) AS nb,
                     CAST(SUM(n_delta) AS BIGINT) AS nd FROM j)
        SELECT j.bin, j.n_base, j.n_delta,
               CAST((CAST(j.n_base AS HUGEINT) * 1000000) // t.nb AS BIGINT) AS share_base_micro,
               CAST((CAST(j.n_delta AS HUGEINT) * 1000000) // t.nd AS BIGINT) AS share_delta_micro,
               CAST((abs(CAST(j.n_base AS HUGEINT) * t.nd
                         - CAST(j.n_delta AS HUGEINT) * t.nb) * 1000000)
                    // (CAST(t.nb AS HUGEINT) * t.nd) AS BIGINT) AS drift_micro
        FROM j, t ORDER BY j.bin"""
      }
    ),

    // Per-group mode with a deterministic tiebreak: most frequent order
    // priority per market segment. Two-level aggregate — counts on
    // (segment, priority), then top-1 by (count desc, priority asc) via
    // row_number (rewritten to the bounded aggregate by TopKRewrite).
    // The segment dimension rides in on a keyed equi join.
    Q(
      "q113_priority_mode",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = Tables.orders(s, d)
          .join(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
        counts
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("c_mktsegment"))
              .orderBy(col("n").desc, col("o_orderpriority"))))
          .filter(col("rn") === 1)
          .select(col("c_mktsegment"), col("o_orderpriority"), col("n"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        WITH counts AS (
          SELECT c_mktsegment, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2
        ), r AS (
          SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                       ORDER BY n DESC, o_orderpriority) AS rn
          FROM counts
        )
        SELECT c_mktsegment, o_orderpriority, n
        FROM r WHERE rn = 1
        ORDER BY c_mktsegment""")
    ),

    // Join-key skew profile: the diagnostic a 100 TB operator runs
    // BEFORE a big keyed join — one row of concentration stats for a
    // candidate key (events.user_id): cardinalities, max/mean, top-1 /
    // top-10 share, coefficient of variation, and the Gini coefficient
    // of the per-key count distribution. The verdict decides between a
    // plain shuffle join, salting (q69), or AQE skew splitting.
    //
    // Shape: one keyed count, then everything over the (much smaller)
    // counts table. Gini needs a global rank; that is the two-phase
    // globalCumsum (q116's machinery) over (n, user_id) — never a
    // single-partition window. Within an equal-count tie group the sum
    // Σ rank·n is invariant to rank order (equal n factors out), so
    // the statistic is deterministic; the user_id tiebreak only makes
    // the range partitioning total. Top-10 is a bounded TakeOrdered.
    // All moments are exact longs (at ~1e9 keys × 1e12 rows the
    // weighted sum would need the decimal path — swap Σ rank·n to
    // Det.Money there); divisions are double-on-exact-longs, the q124
    // engine-identical recipe.
    Q(
      "q131_key_skew_profile",
      (s, d) => {
        val counts = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"))
          .cache() // consumed by the rank pass AND the top-10 pass
        val ranked = Relational
          .globalCumsum(
            counts.withColumn("one", lit(1).cast(Det.Money)),
            Seq("n", "user_id"), "one", 8)
          .withColumn("rk", col("running_total").cast("long"))
        val top10 = counts
          .orderBy(col("n").desc, col("user_id"))
          .limit(10)
          .agg(sum(col("n")).as("t10"))
        val stats = ranked.agg(
          count(lit(1)).as("k"),
          sum(col("n")).as("total"),
          max(col("n")).as("mx"),
          sum(col("n") * col("n")).as("s2"),
          sum(col("rk") * col("n")).as("w"))
        val mean = col("total").cast("double") / col("k").cast("double")
        stats
          .crossJoin(broadcast(top10))
          .select(
            col("k").as("n_keys"),
            col("total").as("n_rows"),
            col("mx").as("max_count"),
            round(mean, 6).as("mean_count"),
            round(col("mx").cast("double") / col("total").cast("double"), 6)
              .as("top1_share"),
            round(col("t10").cast("double") / col("total").cast("double"), 6)
              .as("top10_share"),
            round(
              sqrt(greatest(
                col("s2").cast("double") / col("k").cast("double") - mean * mean,
                lit(0.0))) / mean,
              6).as("cv"),
            round(
              (lit(2L) * col("w") - (col("k") + lit(1L)) * col("total")).cast("double")
                / (col("k") * col("total")).cast("double"),
              6).as("gini"))
      },
      Some("""
        WITH c AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id
        ), r AS (
          SELECT n, CAST(row_number() OVER (ORDER BY n, user_id) AS BIGINT) AS rk FROM c
        ), t AS (
          SELECT CAST(SUM(n) AS BIGINT) AS t10
          FROM (SELECT n FROM c ORDER BY n DESC, user_id LIMIT 10)
        ), st AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS total,
                 CAST(MAX(n) AS BIGINT) AS mx, CAST(SUM(n*n) AS BIGINT) AS s2,
                 CAST(SUM(rk*n) AS BIGINT) AS w
          FROM r
        )
        SELECT k AS n_keys, total AS n_rows, mx AS max_count,
               round(CAST(total AS DOUBLE) / CAST(k AS DOUBLE), 6) AS mean_count,
               round(CAST(mx AS DOUBLE) / CAST(total AS DOUBLE), 6) AS top1_share,
               round(CAST(t10 AS DOUBLE) / CAST(total AS DOUBLE), 6) AS top10_share,
               round(sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(k AS DOUBLE)
                                   - (CAST(total AS DOUBLE) / CAST(k AS DOUBLE))
                                     * (CAST(total AS DOUBLE) / CAST(k AS DOUBLE)), 0.0))
                     / (CAST(total AS DOUBLE) / CAST(k AS DOUBLE)), 6) AS cv,
               round(CAST(2*w - (k+1)*total AS DOUBLE)
                     / CAST(k*total AS DOUBLE), 6) AS gini
        FROM st CROSS JOIN t""")
    ),

    // Count-Min sketch heavy hitters: q131's sketch twin. The cell
    // build is the 100 TB artifact — state bounded at depth×width
    // (4×256) REGARDLESS of key cardinality, where any exact top-k
    // needs per-key state first. The depth explode is map-only and
    // partial aggregation collapses each task to ≤1024 cells before
    // the shuffle, so exchange volume is O(partitions), not O(rows).
    // Hashing is the md5-based minhash family (TextFns), so unlike
    // every engine-native sketch the cells — and therefore the
    // estimates — are deterministic and ORACLE-COMPARABLE: DuckDB
    // recomputes the identical sketch. The exact top-10 side exists to
    // gate the estimates against ground truth (est >= exact always;
    // the min-over-depth bounds the collision overcount).
    Q(
      "q132_heavy_hitters_cms",
      (s, d) => {
        import graft.functions.TextFns
        val Depth = 4
        val Width = 256
        val ev = Tables.events(s, d).select(col("user_id").cast("string").as("k"))
        val cells = ev
          .select(col("k"), explode(sequence(lit(0), lit(Depth - 1))).as("d"))
          .groupBy(col("d"), TextFns.cmsCell(col("k"), col("d"), Width).as("cell"))
          .agg(count(lit(1)).as("c"))
        val top = ev
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("k"))
          .limit(10)
        top
          .select(col("k"), col("n"), explode(sequence(lit(0), lit(Depth - 1))).as("d"))
          .withColumn("cell", TextFns.cmsCell(col("k"), col("d"), Width))
          .join(broadcast(cells), Seq("d", "cell"))
          .groupBy(col("k"), col("n"))
          .agg(min(col("c")).as("cms_est"))
          .select(
            col("k").cast("long").as("user_id"),
            col("n"),
            col("cms_est"),
            (col("cms_est") - col("n")).as("overcount"))
          .orderBy(col("n").desc, col("user_id"))
      },
      Some {
        import graft.functions.TextFns.{Sql => T}
        val cellOf = (k: String) => T.cmsCell(k, "d.d", 256)
        s"""
        WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
        d AS (SELECT unnest(generate_series(0, 3)) AS d),
        cells AS (SELECT d.d AS d, ${cellOf("k")} AS cell, CAST(COUNT(*) AS BIGINT) AS c
                  FROM ev CROSS JOIN d GROUP BY 1, 2),
        top AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM ev
                GROUP BY k ORDER BY n DESC, k LIMIT 10),
        est AS (SELECT t.k, t.n, MIN(c.c) AS cms_est
                FROM top t CROSS JOIN d
                JOIN cells c ON c.d = d.d AND c.cell = ${cellOf("t.k")}
                GROUP BY t.k, t.n)
        SELECT CAST(k AS BIGINT) AS user_id, n, cms_est, cms_est - n AS overcount
        FROM est ORDER BY n DESC, user_id"""
      }
    ),

    // The SALTED arm of skewRoutedJoin hash-gated end-to-end: threshold
    // 0 forces the salted rewrite (salted fact × salt-replicated dim,
    // shuffle key (user_id, salt)) and the oracle is the PLAIN join —
    // proving the rewrite is result-invisible on real tables. The
    // routing policy itself (salt only past the measured top-1 share)
    // is WarehouseSpec's crafted-skew pin; every other equi-join in the
    // library is the plain arm.
    Q(
      "q137_skew_routed_join",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("value"))
        val dim = Tables.customer(s, d)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
        skewRoutedJoin(ev, dim, "user_id", salts = 8, threshold = 0.0)
          .select(col("event_id"), col("user_id"), col("segment"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, e.value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        ORDER BY e.event_id""")
    ),

    // Zone-map data skipping as an ORACLE-GATED end-to-end path (round
    // 9): cluster the fact by ship date into a snapshot table with
    // per-file min/max stats, then answer a narrow date-range rollup
    // through Snapshots.scanRange — the driver drops provably-disjoint
    // files before any task launches, and the result must hash-match
    // the plain full-scan oracle. The q65-style write-then-read shape
    // (unique temp dir per run); pruning EFFECTIVENESS (1-of-N files)
    // is pinned in SnapshotSpec — here the gate proves skipping never
    // changes an answer.
    Q(
      "q154_zonemap_scan",
      (s, d) => {
        val dir = shipDateClusteredFact(s, d)
        Snapshots
          .scanRange(s, dir, "ship_date",
            java.sql.Date.valueOf("1995-02-01"), java.sql.Date.valueOf("1995-04-30"))
          .groupBy(col("ship_date"))
          .agg(
            count(lit(1)).as("n_rows"),
            Det.dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("ship_date"))
      },
      Some("""
        SELECT CAST(l_shipdate AS DATE) AS ship_date,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-02-01' AND DATE '1995-04-30'
        GROUP BY 1 ORDER BY 1""")
    ),

    // The HEADLINE analytic q02 (filter + project, time window +
    // equality) served through zone-map data skipping (round 10): the
    // same user-facing shape, but reading the SHARED ship_date-
    // clustered snapshot through Snapshots.scanRange, so a date-
    // windowed query users already run exercises manifest file
    // skipping — not only the purpose-built q154 rollup. The driver
    // drops provably-disjoint files before any task launches (≤3 of
    // 16 for a 6-month window of a ~7-year span, pinned in
    // SnapshotSpec); the result must hash-match the plain full-scan
    // oracle (skipping never changes an answer).
    Q(
      "q158_zonemap_filter_project",
      (s, d) => {
        val dir = shipDateClusteredFact(s, d)
        Snapshots
          .scanRange(s, dir, "ship_date",
            java.sql.Date.valueOf("1995-02-01"), java.sql.Date.valueOf("1995-07-31"))
          .filter(col("l_returnflag") === "R")
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("ship_date"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""
        SELECT l_orderkey, l_linenumber, l_quantity,
               CAST(l_shipdate AS DATE) AS ship_date
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-02-01' AND DATE '1995-07-31'
          AND l_returnflag = 'R'
        ORDER BY l_orderkey, l_linenumber""")
    ),

    // Z-ORDER data skipping (round 14): the 2-D box predicate — a date
    // window AND a part-key range together — served through the
    // Morton-interleaved fact snapshot via Snapshots.scanBox. On the
    // q154/q158 date-clustered layout this predicate's part-key half
    // prunes NOTHING (every file spans all part keys); on the z-ordered
    // layout both dimensions prune multiplicatively (SnapshotSpec pins
    // the file counts). Same gate discipline as q154: pruning must
    // never change an answer, so the result hash-matches the plain
    // full-scan oracle. The snapshot is a standing table property
    // (IndexStore + Prebuild), not a per-query cost.
    Q(
      "q190_zorder_box_scan",
      (s, d) => {
        val dir = zorderFact(s, d)
        Snapshots
          .scanBox(s, dir, Seq(
            ("ship_date",
              java.sql.Date.valueOf("1995-03-01"), java.sql.Date.valueOf("1995-08-31")),
            ("l_partkey", Long.box(1L), Long.box(400L))))
          .groupBy(col("l_partkey"))
          .agg(
            count(lit(1)).as("n_rows"),
            Det.dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_partkey"))
      },
      Some("""
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-03-01' AND DATE '1995-08-31'
          AND l_partkey BETWEEN 1 AND 400
        GROUP BY 1 ORDER BY 1""")
    ),

    // The z-order LIFECYCLE under the gate (round 14): q190 proves the
    // clustered layout; q193 proves the layout SURVIVES APPEND-ONLY
    // MAINTENANCE — the standing era is z-clustered once, later data
    // arrives as its own z-appended delta files (shipped files
    // untouched), and a box predicate SPANNING the commit boundary
    // prunes standing and delta files alike at file granularity. The
    // answer must hash-match the plain full-scan oracle: append-time
    // clustering never changes a result, only which files a reader can
    // skip. SnapshotSpec pins the per-era file counts.
    Q(
      "q193_zorder_append_scan",
      (s, d) => {
        val dir = zorderLifecycleFact(s, d)
        Snapshots
          .scanBox(s, dir, Seq(
            ("ship_date",
              java.sql.Date.valueOf("1996-07-01"), java.sql.Date.valueOf("1997-06-30")),
            ("l_partkey", Long.box(1L), Long.box(400L))))
          .groupBy(col("l_partkey"))
          .agg(
            count(lit(1)).as("n_rows"),
            Det.dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_partkey"))
      },
      Some("""
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-07-01' AND DATE '1997-06-30'
          AND l_partkey BETWEEN 1 AND 400
        GROUP BY 1 ORDER BY 1""")
    ),

    // Change-data-feed (round 14): Snapshots.diff over the 4-version
    // cdfLifecycle — inserts (the appended 10%), deletes (the
    // copy-on-write key delete), updates (the merged price doubling),
    // unchanged keys dropped. The oracle recomputes both endpoint
    // versions' CONTENT from the base table with the same md5-bucket
    // predicates and replays the keyed full-outer diff, so the gate
    // covers the whole mutation chain: commit, delete, merge, append,
    // and the diff verb itself.
    Q(
      "q194_snapshot_diff",
      (s, d) => {
        val dir = cdfLifecycle(s, d)
        Snapshots
          .diff(s, dir, 1, Snapshots.versions(s, dir).last, Seq("o_orderkey"))
          .select(
            col("o_orderkey"), col("change_type"),
            col("old_o_totalprice").as("old_price"),
            col("new_o_totalprice").as("new_price"))
          .orderBy(col("o_orderkey"))
      },
      Some {
        val h = graft.functions.TextFns.Sql.h60("CAST(o_orderkey AS VARCHAR)")
        s"""
        WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                          CAST($h % 100 AS INT) AS bucket
                   FROM orders),
        v1 AS (SELECT * FROM b WHERE bucket < 90),
        vN AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                      CASE WHEN bucket % 15 = 2 THEN o_totalprice * 2
                           ELSE o_totalprice END AS o_totalprice,
                      bucket
               FROM b WHERE bucket < 90 AND bucket % 15 != 7
               UNION ALL
               SELECT * FROM b WHERE bucket >= 90),
        d AS (SELECT COALESCE(f.o_orderkey, t.o_orderkey) AS o_orderkey,
                     CASE WHEN f.o_orderkey IS NULL THEN 'insert'
                          WHEN t.o_orderkey IS NULL THEN 'delete'
                          WHEN f.o_custkey      IS DISTINCT FROM t.o_custkey
                            OR f.o_orderstatus  IS DISTINCT FROM t.o_orderstatus
                            OR f.o_totalprice   IS DISTINCT FROM t.o_totalprice
                            OR f.bucket         IS DISTINCT FROM t.bucket
                            THEN 'update' END AS change_type,
                     f.o_totalprice AS old_price,
                     t.o_totalprice AS new_price
              FROM v1 f FULL OUTER JOIN vN t ON f.o_orderkey = t.o_orderkey)
        SELECT o_orderkey, change_type, old_price, new_price
        FROM d WHERE change_type IS NOT NULL
        ORDER BY o_orderkey"""
      }
    )
  )

  /** Standing price-histogram index for q177: the 90% bucket's 20-bin
    * totalprice histogram AND its frozen binning scalars (lo, hi),
    * committed once per dataset, through [[graft.IndexStore]], as
    * pinned snapshot versions — so repeated executions reuse one
    * committed snapshot instead of rescanning the standing bucket per
    * run. Registered in [[graft.Prebuild]].
    */
  private[graft] def priceDriftIndex(
      s: org.apache.spark.sql.SparkSession, d: String): (String, Int, String, Int) = {
    val parts = graft.IndexStore.resolve(s, "price_drift", 1, d, Seq("orders.parquet")) {
      dirOf =>
        val h = graft.functions.TextFns.h60(col("o_orderkey").cast("string")) % 100
        val baseRows = Tables.orders(s, d)
          .select(col("o_totalprice").as("x"), h.as("bucket"))
          .filter(col("bucket") < 90).select(col("x"))
        val stats = baseRows.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
        val width = (col("hi") - col("lo")) / lit(20.0)
        val baseHist = baseRows.crossJoin(broadcast(stats))
          .withColumn("bin",
            least(floor((col("x") - col("lo")) / width), lit(19.0)).cast(IntegerType))
          .groupBy(col("bin")).agg(count(lit(1)).as("n_base"))
        Map(
          "hist" -> Snapshots.commit(baseHist, dirOf("hist"), replace = true),
          "stats" -> Snapshots.commit(stats, dirOf("stats"), replace = true))
    }
    val (hDir, sDir) = (parts("hist"), parts("stats"))
    (hDir, Snapshots.versions(s, hDir).last, sDir, Snapshots.versions(s, sDir).last)
  }

  /** The ship_date-clustered fact snapshot SHARED by q154/q158 —
    * built once per dataset, through [[graft.IndexStore]], like a real
    * warehouse's clustered table (clustered once, hit by many
    * queries), not re-clustered per query. 16 files with disjoint
    * ship_date ranges + per-file min/max stats in the manifest.
    */
  private[graft] def shipDateClusteredFact(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.IndexStore.resolve(s, "clustered_fact", 1, d, Seq("lineitem.parquet")) {
      dirOf =>
        val fact = Tables.lineitem(s, d)
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_returnflag"), to_date(col("l_shipdate")).as("ship_date"))
        Map("fact" -> clusterCommit(fact, dirOf("fact"), "ship_date", 16,
          statsCols = Seq("ship_date")))
    }("fact")

  /** The (ship_date, l_partkey) Z-ORDERED fact snapshot behind q190 —
    * the multi-dimensional clustering twin of [[shipDateClusteredFact]]
    * (same IndexStore lifecycle: built once per dataset, published
    * cross-JVM, reused by every later session). 16 files range-
    * partitioned on the Morton interleave of the two keys, per-file
    * min/max stats on BOTH columns, so a 2-D box predicate prunes on
    * each dimension — the date-clustered layout can only prune dates.
    * Registered in [[graft.Prebuild]] (ETL-tier cost, untimed).
    */
  private[graft] def zorderFact(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    // formatVersion 2: explicit null-key bin (layout identical for
    // the non-null TPC-H keys; bumped on principle — any bin-formula
    // change invalidates the published layout)
    graft.IndexStore.resolve(s, "zorder_fact", 2, d, Seq("lineitem.parquet")) {
      dirOf =>
        val fact = Tables.lineitem(s, d)
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_quantity"), to_date(col("l_shipdate")).as("ship_date"))
        Map("fact" -> zorderCommit(fact, dirOf("fact"),
          datediff(col("ship_date"), lit("1970-01-01")), col("l_partkey"),
          nFiles = 16, statsCols = Seq("ship_date", "l_partkey")))
    }("fact")

  /** The 4-version snapshot behind q194 — a deterministic mutation
    * history over orders, every step keyed off the md5 bucket
    * (h60(o_orderkey) % 100, the q177/q180 salted-toss discipline) so
    * the DuckDB oracle can recompute both endpoint versions' CONTENT
    * from the base table:
    *   v1 replace: the standing 90% (bucket < 90);
    *   v2 delete:  bucket % 15 = 7 (copy-on-write key delete);
    *   v3 merge:   bucket % 15 = 2 rows get o_totalprice doubled
    *               (copy-on-write keyed update);
    *   v4 append:  the late-arriving 10% (bucket ≥ 90).
    * [[Snapshots.diff]](v1 → v4) must report exactly those three change
    * sets — any torn rewrite, lost row, or phantom file in ANY of the
    * four commit paths surfaces as a diff row the oracle doesn't have.
    */
  private[graft] def cdfLifecycle(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.IndexStore.resolve(s, "cdf_lifecycle", 1, d, Seq("orders.parquet")) {
      dirOf =>
        val b = (graft.functions.TextFns.h60(col("o_orderkey").cast("string")) % 100)
          .cast(IntegerType)
        val base = Tables.orders(s, d)
          .select(
            col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), b.as("bucket"))
        val standing = base.filter(col("bucket") < 90)
        val dir = dirOf("t")
        Snapshots.commit(standing, dir, replace = true)
        Snapshots.delete(
          standing.filter(col("bucket") % 15 === 7).select(col("o_orderkey")),
          dir, Seq("o_orderkey"))
        Snapshots.merge(
          standing.filter(col("bucket") % 15 === 2)
            .withColumn("o_totalprice", col("o_totalprice") * 2),
          dir, Seq("o_orderkey"))
        Map("t" -> Snapshots.commit(base.filter(col("bucket") >= 90), dir))
    }("t")

  /** The z-order LIFECYCLE table behind q193 — two committed versions:
    * v1 z-clusters the standing era (ship year ≤ 1996, 12 files), v2
    * z-APPENDS the later years as their own 4 delta files
    * ([[zorderAppend]] — shipped files untouched, the immutability
    * contract of an export the q183 shard appender also honors).
    * Readers of the latest version see one table whose box predicates
    * prune standing and delta files alike.
    */
  private[graft] def zorderLifecycleFact(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    // formatVersion 2: explicit null-key bin (see zorderFact)
    graft.IndexStore.resolve(s, "zorder_lifecycle", 2, d, Seq("lineitem.parquet")) {
      dirOf =>
        val fact = Tables.lineitem(s, d)
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_quantity"), to_date(col("l_shipdate")).as("ship_date"))
        val zkeys = (datediff(col("ship_date"), lit("1970-01-01")), col("l_partkey"))
        val dir = dirOf("fact")
        zorderCommit(fact.filter(year(col("ship_date")) <= 1996),
          dir, zkeys._1, zkeys._2,
          nFiles = 12, statsCols = Seq("ship_date", "l_partkey"))
        Map("fact" -> zorderAppend(fact.filter(year(col("ship_date")) >= 1997),
          dir, zkeys._1, zkeys._2,
          nFiles = 4, statsCols = Seq("ship_date", "l_partkey")))
    }("fact")
}
