package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Event-log operators: tumbling time windows, gap-based sessionization,
  * per-key as-of joins (the scalable sort-merge formulation), and JSON
  * attribute extraction. These are the batch-parity versions; the same
  * aggregations run incrementally in [[graft.streaming.EventStream]].
  */
object Events {
  import Det._

  /** The click→purchase attribution shape every as-of query here
    * shares: purchases as the left/probe side, clicks as the
    * right/reference side.
    */
  private def purchases(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
  private def clicks(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d).filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_event_id"))
  private def asOfOut(df: org.apache.spark.sql.DataFrame) =
    df.select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("click_event_id"),
        unix_micros(col("click_ts")).as("click_ts_us"))
      .orderBy(col("user_id"), col("event_id"))

  /** Shared by q120 (composed formulation) and q128 (physical exec) —
    * one oracle gating both dispatch arms, the q38/q99 pattern.
    */
  private val forwardOracleSql = """
        SELECT p.user_id, p.event_id,
               epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us,
               c.event_id AS click_event_id,
               epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
        ORDER BY p.user_id, p.event_id"""

  /** Shared by q121 (composed) and q129 (physical exec). */
  private val nearestOracleSql = """
        WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        c AS (SELECT * FROM events WHERE event_type = 'click'),
        b AS (
          SELECT p.user_id, p.event_id,
                 epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us,
                 c.event_id AS click_event_id,
                 epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)),
        f AS (
          SELECT p.user_id, p.event_id,
                 c.event_id AS click_event_id,
                 epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP))
        SELECT b.user_id, b.event_id, b.ts_us,
               CASE WHEN b.click_ts_us IS NULL THEN f.click_event_id
                    WHEN f.click_ts_us IS NOT NULL
                         AND f.click_ts_us - b.ts_us < b.ts_us - b.click_ts_us
                      THEN f.click_event_id
                    ELSE b.click_event_id END AS click_event_id,
               CASE WHEN b.click_ts_us IS NULL THEN f.click_ts_us
                    WHEN f.click_ts_us IS NOT NULL
                         AND f.click_ts_us - b.ts_us < b.ts_us - b.click_ts_us
                      THEN f.click_ts_us
                    ELSE b.click_ts_us END AS click_ts_us
        FROM b JOIN f ON b.event_id = f.event_id
        ORDER BY b.user_id, b.event_id"""

  val all: Seq[Q] = Seq(
    // tumbling 1h window aggregate (batch parity of the streaming agg)
    Q(
      "q36_event_hourly",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
            col("event_type")
          )
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy(col("hour_start"), col("event_type")),
      Some("""
        SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
    ),

    // gap-based sessionization (30 min inactivity closes a session)
    Q(
      "q37_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val runSum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
          .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
          .withColumn(
            "new_session",
            when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("session_id", sum(col("new_session")).over(runSum).cast(IntegerType))
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            count(lit(1)).as("n_events"),
            min(col("ts_us")).as("start_us"),
            max(col("ts_us")).as("end_us"),
            dsum(col("value")).as("sum_value")
          )
          .orderBy(col("user_id"), col("session_id"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
          FROM events
        ), flagged AS (
          SELECT *,
                 CASE WHEN lag(ts_us) OVER w IS NULL
                        OR ts_us - lag(ts_us) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ), sessions AS (
          SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
          FROM flagged
        )
        SELECT user_id, session_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               min(ts_us) AS start_us,
               max(ts_us) AS end_us,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id""")
    ),

    // per-key backward as-of join at scale: each purchase ← latest prior click
    Q(
      "q38_asof_click_purchase",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_event_id"))
        AsOf
          .backward(purchases, clicks, "ts", "click_ts", Seq("user_id"), Seq("click_event_id", "click_ts"))
          .select(
            col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"),
            col("click_event_id"),
            unix_micros(col("click_ts")).as("click_ts_us")
          )
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""
        SELECT p.user_id, p.event_id,
               epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us,
               c.event_id AS click_event_id,
               epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        ORDER BY p.user_id, p.event_id""")
    ),

    // The same as-of contract as q38, planned through the custom
    // whole-operator path: AsOfJoin logical node -> AsOfJoinStrategy ->
    // AsOfJoinExec streaming merge (one shuffle + one sort per side,
    // O(1) merge state — no union row blow-up, no window state). Shares
    // q38's oracle verbatim; formulation agreement is pinned in
    // AsOfJoinExecSpec.
    Q(
      "q99_asof_exec",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_event_id"))
        graft.plans.AsOfJoin
          .frame(purchases, clicks, "ts", "click_ts", Seq("user_id"), Seq("click_event_id", "click_ts"))
          .select(
            col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"),
            col("click_event_id"),
            unix_micros(col("click_ts")).as("click_ts_us")
          )
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""
        SELECT p.user_id, p.event_id,
               epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us,
               c.event_id AS click_event_id,
               epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        ORDER BY p.user_id, p.event_id""")
    ),

    // AsOf.auto's dispatch boundary under the hash oracle: the SAME
    // as-of contract evaluated through BOTH dispatch arms by passing a
    // broadcast threshold on either side of the right side's size (-1
    // forces the co-partitioned streaming-merge exec; 1 TB forces the
    // broadcast range join). The threshold is an argument of the
    // dispatcher, so the session conf is never touched, and the
    // broadcast arm pins its choice with an explicit broadcast() hint.
    // Each arm must independently reproduce the oracle rows — the
    // union is tagged so a divergence in either arm breaks the hash.
    Q(
      "q115_asof_auto_dispatch",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_event_id"))
        def arm(threshold: Long, tag: String) =
          AsOf.dispatch(purchases, clicks, "ts", "click_ts",
              Seq("user_id"), Seq("click_event_id", "click_ts"), threshold)
            .withColumn("arm", lit(tag))
        arm(-1L, "merge").unionByName(arm(1L << 40, "broadcast"))
          .select(
            col("arm"), col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"),
            col("click_event_id"),
            unix_micros(col("click_ts")).as("click_ts_us"))
          .orderBy(col("arm"), col("user_id"), col("event_id"))
      },
      Some("""
        WITH aj AS (
          SELECT p.user_id, p.event_id,
                 epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us,
                 c.event_id AS click_event_id,
                 epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us
          FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
            ON p.user_id = c.user_id AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        )
        SELECT 'merge' AS arm, * FROM aj
        UNION ALL
        SELECT 'broadcast' AS arm, * FROM aj
        ORDER BY arm, user_id, event_id""")
    ),

    // Forward as-of: each purchase ← the EARLIEST click at-or-after it
    // (pandas merge_asof direction='forward'; the follow-up-attribution
    // mirror of q38). Implemented by time-axis negation over the same
    // sort-merge machinery; the oracle is DuckDB's ASOF with the
    // inequality flipped.
    Q(
      "q120_asof_forward",
      (s, d) => asOfOut(AsOf.forward(
        purchases(s, d), clicks(s, d), "ts", "click_ts",
        Seq("user_id"), Seq("click_event_id", "click_ts"))),
      Some(forwardOracleSql)
    ),

    // The SAME forward contract through the physical operator's
    // direction arm (AsOfJoinExec direction='forward') — both dispatch
    // arms gated on one oracle, the q38/q99 pattern.
    Q(
      "q128_asof_exec_forward",
      (s, d) => asOfOut(graft.plans.AsOfJoin.frame(
        purchases(s, d), clicks(s, d), "ts", "click_ts",
        Seq("user_id"), Seq("click_event_id", "click_ts"),
        graft.plans.AsOfJoin.Forward)),
      Some(forwardOracleSql)
    ),

    // Nearest as-of: the temporally closer of the q38 (backward) and
    // q120 (forward) matches per purchase, ties toward backward. The
    // oracle composes the same two ASOF joins and applies the same
    // distance CASE — both engines pick identical rows because click
    // timestamps are unique per user (pinned by the q38/q120 hashes).
    Q(
      "q121_asof_nearest",
      (s, d) => asOfOut(AsOf.nearest(
        purchases(s, d), clicks(s, d), "ts", "click_ts",
        by = Seq("user_id"), leftKey = Seq("event_id"), Seq("click_event_id", "click_ts"))),
      Some(nearestOracleSql)
    ),

    // Nearest through the physical operator: ONE merge pass holding a
    // backward and a forward candidate simultaneously — no second scan,
    // no self-join of two directional results — against the same
    // composed-oracle as q121.
    Q(
      "q129_asof_exec_nearest",
      (s, d) => asOfOut(graft.plans.AsOfJoin.frame(
        purchases(s, d), clicks(s, d), "ts", "click_ts",
        Seq("user_id"), Seq("click_event_id", "click_ts"),
        graft.plans.AsOfJoin.Nearest)),
      Some(nearestOracleSql)
    ),

    // Conversion-latency distribution — operator composition: the q38
    // backward as-of attributes each purchase to its latest prior
    // click, then the gap lands in 10-minute buckets (integer division
    // on epoch micros — latency is non-negative by construction, so
    // div == floor in both engines) and one keyed count gives the
    // funnel-latency histogram. No window, no second scan of the
    // attribution.
    Q(
      "q126_conversion_latency",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_event_id"))
        AsOf
          .backward(purchases, clicks, "ts", "click_ts", Seq("user_id"), Seq("click_ts"))
          .filter(col("click_ts").isNotNull)
          .withColumn("latency_us", unix_micros(col("ts")) - unix_micros(col("click_ts")))
          .withColumn("bucket_10min", expr("latency_us div 600000000").cast(IntegerType))
          .groupBy(col("bucket_10min"))
          .agg(count(lit(1)).as("n_purchases"))
          .orderBy(col("bucket_10min"))
      },
      Some("""
        WITH aj AS (
          SELECT epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us,
                 epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us
          FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
            ON p.user_id = c.user_id AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP))
        SELECT CAST((ts_us - click_ts_us) // 600000000 AS INT) AS bucket_10min,
               CAST(COUNT(*) AS BIGINT) AS n_purchases
        FROM aj WHERE click_ts_us IS NOT NULL
        GROUP BY 1 ORDER BY 1""")
    ),

    // JSON attribute extraction from the props payload. from_json with
    // an explicit schema parses each payload once into a typed struct
    // (a per-field get_json_object re-parses the string for every field
    // extracted — N parses per row at N fields).
    Q(
      "q39_json_extract",
      (s, d) =>
        Tables.events(s, d)
          .select(
            col("event_type"),
            from_json(col("props"), org.apache.spark.sql.types.StructType(
              Seq(org.apache.spark.sql.types.StructField("k", IntegerType))))
              .getField("k").as("k"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"), max(col("k")).cast(IntegerType).as("max_k"))
          .orderBy(col("event_type")),
      Some("""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
               CAST(COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS n_k,
               CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type""")
    ),

    // skew-resistant two-phase (salted) aggregation: partial sums on
    // (key, salt) spread a hot key over 8 reducers, the final pass
    // merges the 8 partials per key. Decimal partials are exactly
    // associative, so the result is identical to the direct groupBy
    // (and the oracle IS the direct groupBy).
    Q(
      "q69_salted_agg",
      (s, d) => {
        val salted = Tables.events(s, d)
          .withColumn("salt", pmod(col("event_id"), lit(8)))
          .groupBy(col("user_id"), col("salt"))
          .agg(
            count(lit(1)).as("pn"),
            sum(col("value").cast(Det.Money)).as("psum"))
        salted
          .groupBy(col("user_id"))
          .agg(
            sum(col("pn")).as("n"),
            sum(col("psum")).cast("double").as("sum_value"))
          .orderBy(col("user_id"))
      },
      Some("""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY user_id ORDER BY user_id""")
    ),

    // Ordered funnel (view -> click -> purchase): earliest view, earliest
    // click AFTER that view, earliest purchase AFTER that click. Three
    // stage aggregates, each a pushed-down event_type scan + keyed min,
    // chained by per-user equi-joins — no windows, no full-event sort, so
    // every stage shuffles only its own event type's per-user minima.
    Q(
      "q96_funnel",
      (s, d) => {
        def stage(tpe: String) = Tables.events(s, d)
          .filter(col("event_type") === tpe)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
        val v = stage("view").groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
        val c = stage("click").join(v, "user_id")
          .filter(col("us") > col("view_us"))
          .groupBy(col("user_id")).agg(min(col("us")).as("click_us"))
        val p = stage("purchase").join(c, "user_id")
          .filter(col("us") > col("click_us"))
          .groupBy(col("user_id")).agg(min(col("us")).as("purchase_us"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .select(
            col("user_id"), col("view_us"), col("click_us"), col("purchase_us"),
            (lit(1)
              + when(col("click_us").isNotNull, 1).otherwise(0)
              + when(col("purchase_us").isNotNull, 1).otherwise(0))
              .cast(IntegerType).as("stage"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH e AS (SELECT user_id, event_type,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        v AS (SELECT user_id, min(us) AS view_us FROM e
              WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, min(us) AS click_us
              FROM e JOIN v ON e.user_id = v.user_id
              WHERE event_type = 'click' AND us > view_us GROUP BY e.user_id),
        p AS (SELECT e.user_id, min(us) AS purchase_us
              FROM e JOIN c ON e.user_id = c.user_id
              WHERE event_type = 'purchase' AND us > click_us GROUP BY e.user_id)
        SELECT v.user_id, view_us, click_us, purchase_us,
               CAST(1 + CASE WHEN click_us IS NOT NULL THEN 1 ELSE 0 END
                      + CASE WHEN purchase_us IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage
        FROM v LEFT JOIN c ON v.user_id = c.user_id
               LEFT JOIN p ON v.user_id = p.user_id
        ORDER BY v.user_id""")
    ),

    // Cohort retention: users grouped by first-active week, distinct
    // active users per (cohort week, weeks since). Two keyed aggs plus
    // one per-user join — the classic warehouse retention matrix without
    // any window function.
    Q(
      "q97_cohort_retention",
      (s, d) => {
        val wk = Tables.events(s, d)
          .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
          .distinct()
        val first = wk.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
        wk.join(first, "user_id")
          .select(
            col("cohort_wk"),
            (datediff(col("wk"), col("cohort_wk")) / 7).cast(IntegerType).as("weeks_since"),
            col("user_id"))
          .groupBy(col("cohort_wk"), col("weeks_since"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_wk"), col("weeks_since"))
      },
      Some("""
        WITH wk AS (SELECT DISTINCT user_id,
                           CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
                    FROM events),
        first AS (SELECT user_id, min(wk) AS cohort_wk FROM wk GROUP BY user_id)
        SELECT f.cohort_wk,
               CAST(date_diff('day', f.cohort_wk, w.wk) / 7 AS INT) AS weeks_since,
               CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users
        FROM wk w JOIN first f ON w.user_id = f.user_id
        GROUP BY f.cohort_wk, weeks_since
        ORDER BY f.cohort_wk, weeks_since""")
    )
  )
}
