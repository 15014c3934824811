package graft

import org.apache.spark.sql.functions._

/** Determinism invariants behind the oracle hash-match gate: decimal
  * sums must be bitwise identical regardless of partitioning/order.
  */
class DetSpec extends SparkSpec {
  import spark.implicits._

  private lazy val doubles =
    (1 to 10000).map(i => (i.toLong, math.sin(i.toDouble) * 1e6 + 0.123456)).toSeq

  test("dsum is invariant under repartitioning (double sum is not)") {
    val df = doubles.toDF("id", "x")
    val a = df.repartition(1).agg(Det.dsum(col("x"))).head().getDouble(0)
    val b = df.repartition(32, col("id")).agg(Det.dsum(col("x"))).head().getDouble(0)
    val c = df.orderBy(desc("id")).coalesce(2).agg(Det.dsum(col("x"))).head().getDouble(0)
    assert(a == b && b == c, "decimal-summed double must not depend on partitioning")
  }

  test("ratio yields null on zero denominator, not Inf/NaN") {
    val out = Seq((1.0, 0.0), (4.0, 2.0)).toDF("n", "d")
      .select(Det.ratio(col("n"), col("d")).as("r")).collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getDouble(0) == 2.0)
  }
}
