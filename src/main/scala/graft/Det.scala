package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Determinism helpers for the DuckDB-oracle hash-match gate.
  *
  * Double summation is order-dependent: Spark's partial aggregation
  * order differs run-to-run and from DuckDB's, so `sum(double)` can
  * drift in the last ulps and break value-hash comparison. We instead
  * sum EXACT decimals (each input double is rounded once, identically
  * in both engines, to 6 decimal places) and cast the exact total back
  * to double — bitwise identical regardless of aggregation order.
  *
  * Division uses `nullif`-style zero guards so Spark and DuckDB agree
  * on NULL (instead of Inf/NaN) for empty denominators.
  */
object Det {
  val Money: DecimalType = DecimalType(38, 6)

  /** Order-independent exact sum of a double column, as double.
    * Oracle SQL equivalent: CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
    */
  def dsum(c: Column): Column = sum(c.cast(Money)).cast(DoubleType)

  /** n / d with NULL on zero/NULL denominator (matches `n / NULLIF(d, 0)`). */
  def ratio(n: Column, d: Column): Column = n / when(d =!= lit(0), d)
}
