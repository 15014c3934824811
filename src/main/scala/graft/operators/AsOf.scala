package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of joins — the reference's interval-assignment operator
  * (`/root/reference/src/pipelines/etl.py:27-42` `pd.merge_asof`
  * direction='backward' + containment post-filter; notebook variant
  * `notebooks/etl_transform.ipynb cell 28`). Re-expressed two ways,
  * chosen by the size of the right (reference/dimension) side:
  *
  *  - [[backward]]: sort-merge formulation. Union both sides, sort by
  *    (by-keys, time, side) once, carry the latest right payload forward
  *    with a running `last(..., ignoreNulls)` window. One shuffle on the
  *    by-keys, no cross product — this is the 100 TB path (both sides
  *    large, co-partitioned by key).
  *
  *  - [[backwardBroadcast]]: derive each right row's validity interval
  *    `[t, next t)` via `lead`, then broadcast range-join. Right side
  *    must be broadcast-small (a dimension); left side streams through
  *    unshuffled — zero shuffle on the fact.
  *
  * Backward semantics: a right row at time == left time DOES match
  * (`>=`), matching pandas `merge_asof(direction='backward')`.
  */
object AsOf {

  /** Formulation dispatch by estimated right-side size, the same
    * statistic Spark's own join selection keys off: a right side under
    * `spark.sql.autoBroadcastJoinThreshold` takes the zero-fact-shuffle
    * broadcast range join; anything larger takes the co-partitioned
    * streaming-merge [[graft.plans.AsOfJoin]] operator (falling back to
    * the composed [[backward]] when the session lacks GraftExtensions).
    */
  def auto(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[String],
      rightPayload: Seq[String]
  ): DataFrame =
    // the TYPED conf getter, not a raw-string .toLong: the conf's
    // string form carries byte-unit suffixes ("10485760b", "10m") that
    // a bare Long parse rejects
    dispatch(left, right, leftTime, rightTime, by, rightPayload,
      left.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)

  /** [[auto]] with the broadcast threshold (bytes; negative disables
    * the broadcast arm) passed in rather than read from the session.
    */
  private[graft] def dispatch(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[String],
      rightPayload: Seq[String],
      threshold: Long
  ): DataFrame = {
    val rightBytes = right.queryExecution.optimizedPlan.stats.sizeInBytes
    // the exec compares raw physical values, so it requires identical
    // time/key types on both sides (frame() refuses otherwise); mixed
    // axes (date vs timestamp) route to the composed formulation,
    // which coerces via unionByName
    def typesAlign: Boolean = {
      def t(df: DataFrame, n: String) = df.schema(n).dataType
      t(left, leftTime) == t(right, rightTime) &&
        by.forall(k => t(left, k) == t(right, k))
    }
    if (threshold >= 0 && rightBytes <= threshold)
      backwardBroadcast(left, right, leftTime, rightTime, by, rightPayload)
    else if (typesAlign && left.sparkSession.sessionState.planner.strategies
        .contains(graft.plans.AsOfJoinStrategy))
      graft.plans.AsOfJoin.frame(left, right, leftTime, rightTime, by, rightPayload)
    else backward(left, right, leftTime, rightTime, by, rightPayload)
  }

  /** Sort-merge as-of. Attaches `rightPayload` columns of the latest
    * right row with rightTime <= leftTime within equal `by` keys;
    * payload columns are null when no right row precedes.
    *
    * API contract (all directions, composed AND exec): payload columns
    * must be ORDERABLE (no MapType) — duplicate right timestamps
    * resolve deterministically to the max payload struct, which makes
    * the payload a sort key. A map-typed payload fails at plan time
    * with Spark's non-orderable analysis error; wrap it in a
    * deterministic projection first if the ordering is irrelevant.
    */
  def backward(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[String],
      rightPayload: Seq[String]
  ): DataFrame = {
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .withColumn("__payload", lit(null).cast(
        right.select(rightPayload.map(col): _*)
          .schema.fields.foldLeft(new org.apache.spark.sql.types.StructType())(_ add _)))
    val r = right
      .select((by :+ rightTime).map(col) ++ Seq(struct(rightPayload.map(col): _*).as("__payload")): _*)
      .withColumn("__t", col(rightTime))
      .withColumn("__side", lit(0))
    // align schemas: right side lacks the left columns
    val rAligned = leftCols.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }.select(l.columns.toIndexedSeq.map(col): _*)

    // rights sort before lefts at equal __t so "<=" matches; __payload
    // as the final key makes the winner among DUPLICATE-time right rows
    // deterministic (last = max payload struct, field-wise) instead of
    // shuffle-order-dependent — left rows all carry __side=1 so the
    // null payload never interleaves with right rows at equal time
    val w = Window
      .partitionBy(by.map(col): _*)
      .orderBy(col("__t").asc, col("__side").asc, col("__payload").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(rAligned)
      .withColumn("__match", last(col("__payload"), ignoreNulls = true).over(w))
    val out = carried
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++ rightPayload.map(p => col(s"__match.$p").as(p)): _*)
    out
  }

  /** A column's value on a totally-ordered numeric time axis: epoch
    * MICROS for both timestamps and dates (dates scale by 86 400e6 so
    * a mixed timestamp-vs-date pair still compares on one unit — the
    * mix backward() handles via union coercion), the value itself for
    * numeric time columns. Mixing a numeric time with a temporal one
    * is a caller error the types cannot express; temporal-temporal
    * and numeric-numeric are both safe.
    */
  private def axisOf(dt: org.apache.spark.sql.types.DataType)(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    dt match {
      case _: org.apache.spark.sql.types.TimestampType => unix_micros(c)
      case _: org.apache.spark.sql.types.DateType =>
        datediff(c, lit("1970-01-01")).cast("long") * 86400000000L
      case _ => c
    }

  /** Forward as-of: attaches the EARLIEST right row with
    * rightTime >= leftTime (inclusive, pandas
    * `merge_asof(direction='forward')`). Pure composition: negating
    * both time axes turns "earliest at-or-after" into "latest
    * at-or-before", so the [[backward]] machinery (and its scale
    * shape — one keyed shuffle, no cross product) is reused verbatim;
    * payload columns, including the original right time, pass through
    * untouched.
    */
  def forward(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[String],
      rightPayload: Seq[String]
  ): DataFrame = {
    val l = left.withColumn("__negt_l", -axisOf(left.schema(leftTime).dataType)(col(leftTime)))
    val r = right.withColumn("__negt_r", -axisOf(right.schema(rightTime).dataType)(col(rightTime)))
    backward(l, r, "__negt_l", "__negt_r", by, rightPayload).drop("__negt_l")
  }

  /** Nearest as-of: the temporally closer of the [[backward]] and
    * [[forward]] matches, ties resolved toward backward (the earlier
    * right row). Composed from both directions joined back on
    * `leftKey` — a column set that uniquely identifies left rows
    * (required: the two passes are merged row-wise). `rightPayload`
    * must include `rightTime` so distances are comparable.
    */
  def nearest(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[String],
      leftKey: Seq[String],
      rightPayload: Seq[String]
  ): DataFrame = {
    require(rightPayload.contains(rightTime),
      "nearest as-of needs rightTime in rightPayload to compare distances")
    val b = backward(left, right, leftTime, rightTime, by, rightPayload)
    val f = forward(left, right, leftTime, rightTime, by, rightPayload)
      .select(leftKey.map(col) ++ rightPayload.map(p => col(p).as(s"__f_$p")): _*)
    val rAxis = axisOf(right.schema(rightTime).dataType) _
    val lAxis = axisOf(left.schema(leftTime).dataType)(col(leftTime))
    val distB = lAxis - rAxis(col(rightTime))
    val distF = rAxis(col(s"__f_$rightTime")) - lAxis
    val chooseF = col(rightTime).isNull ||
      (col(s"__f_$rightTime").isNotNull && distF < distB)
    b.join(f, leftKey)
      .select(left.columns.toIndexedSeq.map(col) ++
        rightPayload.map(p => when(chooseF, col(s"__f_$p")).otherwise(col(p)).as(p)): _*)
  }

  /** Broadcast range-join as-of for a small right side. Each right row
    * is valid on `[rightTime, lead(rightTime))`; the last interval is
    * open-ended. Left join — left rows preceding every right row keep
    * null payload.
    */
  def backwardBroadcast(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      by: Seq[String],
      rightPayload: Seq[String]
  ): DataFrame = {
    val w =
      if (by.isEmpty) Window.orderBy(col(rightTime))
      else Window.partitionBy(by.map(col): _*).orderBy(col(rightTime))
    val r = right
      .select((by :+ rightTime).distinct.map(col) ++ rightPayload.filterNot((by :+ rightTime).contains).map(col): _*)
      .withColumn("__next", lead(col(rightTime), 1).over(w))
    val byCond = by
      .map(k => left(k) === r(k))
      .reduceOption(_ && _)
      .getOrElse(lit(true))
    val cond = byCond &&
      left(leftTime) >= r(rightTime) &&
      (r("__next").isNull || left(leftTime) < r("__next"))
    left
      .join(broadcast(r), cond, "left")
      .select(left.columns.toIndexedSeq.map(left(_)) ++ rightPayload.map(p => r(p).as(p)): _*)
  }
}
