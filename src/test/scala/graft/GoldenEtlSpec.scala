package graft

import graft.pipelines.CompanyXEtl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** FIXTURES.md §3: the hand-sized CompanyX-shaped golden fixture, with
  * every expected count hand-computed. This is the analogue of the
  * reference's executed-notebook invariants (BASELINE.md: 504 source
  * products → 293 with history, 395 history rows, 121,317 detail rows
  * after the header join → 121,246 fact rows after interval
  * assignment): each drop stage loses exactly the rows it should, and
  * every boundary edge (interval start/end containment, open-ended
  * interval, missing header, no-history product, non-salable product)
  * lands on the documented side.
  */
class GoldenEtlSpec extends SparkSpec {
  import spark.implicits._

  private def ts(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("timestamp")))

  // three global price intervals, AdventureWorks-shaped: two closed,
  // the last open-ended
  private val I1s = "2011-05-31"; private val I1e = "2012-05-29"
  private val I2s = "2012-05-30"; private val I2e = "2013-05-29"
  private val I3s = "2013-05-30"

  private lazy val srcs: CompanyXEtl.Sources = {
    val product = Seq(
      (1, "Road Bike", Some(10), true),
      (2, "Helmet", Some(20), true),
      (3, "Jersey", Some(20), true),
      (4, "Socks", None, true), // salable, NO history: must still reach the fact
      (5, "Frame Part", Some(10), false), // non-salable: excluded everywhere
      (6, "Gloves", Some(20), true) // history but only pre-interval sales
    ).toDF("ProductID", "Name", "ProductSubcategoryID", "FinishedGoodsFlag")
    val subcategory = Seq((10, "Bikes", 100), (20, "Apparel", 200))
      .toDF("ProductSubcategoryID", "Name", "ProductCategoryID")
    val category = Seq((100, "Bike"), (200, "Clothing")).toDF("ProductCategoryID", "Name")

    // 9 cost rows: 7 paired, 1 cost-only (P1 pre-2011: inner join drops),
    // 1 for non-salable P5 (salable semi-join drops)
    val cost = ts(Seq(
      (1, I1s, Some(I1e), 55.0), (1, I2s, Some(I2e), 60.0), (1, I3s, None, 65.0),
      (2, I3s, None, 12.0),
      (3, I1s, Some(I1e), 20.0),
      (6, I1s, Some(I1e), 8.0), (6, I2s, Some(I2e), 9.0),
      (1, "2010-01-01", Some("2011-05-30"), 50.0), // cost-only interval
      (5, I1s, Some(I1e), 99.0) // non-salable
    ).toDF("ProductID", "StartDate", "EndDate", "StandardCost"), "StartDate", "EndDate")
    val listPrice = ts(Seq(
      (1, I1s, Some(I1e), 110.0), (1, I2s, Some(I2e), 120.0), (1, I3s, None, 130.0),
      (2, I3s, None, 30.0),
      (3, I1s, Some(I1e), 50.0),
      (6, I1s, Some(I1e), 25.0), (6, I2s, Some(I2e), 27.0),
      (2, I2s, Some(I2e), 28.0), // list-only interval: inner join drops
      (5, I1s, Some(I1e), 150.0)
    ).toDF("ProductID", "StartDate", "EndDate", "ListPrice"), "StartDate", "EndDate")

    val header = ts(Seq(
      (101, I1s, 1), // interval START boundary: contained
      (102, I1e, 1), // interval END boundary: contained
      (103, I2s, 2),
      (104, "2013-07-01", 2), // inside the open-ended interval
      (105, "2010-01-01", 3), // before every interval: dropped
      (106, "2014-01-01", 1)
    ).toDF("SalesOrderID", "OrderDate", "CustomerID"), "OrderDate")
    val detail = Seq(
      (1, 1, 100.0, 101), // -> I1
      (1, 2, 200.0, 101), // second line, same order (countDistinct edge) -> I1
      (3, 1, 50.0, 102), // EndDate boundary -> I1
      (1, 1, 110.0, 103), // StartDate boundary -> I2
      (2, 1, 30.0, 104), // open interval -> I3
      (6, 1, 25.0, 105), // pre-interval: dropped at containment
      (5, 1, 75.0, 104), // non-salable: dropped at salable semi-join
      (4, 3, 10.0, 106), // no-history product: KEPT -> I3 (reference semantics)
      (1, 1, 120.0, 999) // no matching header: dropped by the null drop
    ).toDF("ProductID", "OrderQty", "LineTotal", "SalesOrderID")

    CompanyXEtl.Sources(
      product, subcategory, category, cost, listPrice, header, detail)
  }

  private lazy val wh: Map[String, DataFrame] = CompanyXEtl.build(srcs)

  test("golden counts: every ETL stage drops exactly the rows it should") {
    assert(wh("DimProduct").count() == 5, "6 source products, 1 non-salable")
    assert(wh("DimProduct").filter(col("ProductID") === 5).count() == 0)
    assert(wh("DimProductPriceCostHistory").count() == 7,
      "9 cost x 9 list rows pair to 8, salable semi-join drops P5's -> 7")
    assert(wh("DimDate").count() == 3, "three distinct global intervals")
    assert(wh("FactProductSales").count() == 6,
      "9 detail rows: -1 non-salable, -1 pre-interval, -1 headerless -> 6")
  }

  test("golden fact: interval assignment lands every boundary edge correctly") {
    val ids = wh("DimDate").collect()
      .map(r => r.getTimestamp(0).toString.take(10) -> r.getInt(2)).toMap
    assert(ids == Map(I1s -> 1, I2s -> 2, I3s -> 3), s"surrogate ids by start date: $ids")

    val fact = wh("FactProductSales")
    assert(fact.columns.toSet ==
      Set("ProductID", "OrderQty", "LineTotal", "SalesOrderID", "OrderDate", "CustomerID", "Interval"))
    val got = fact.select(col("SalesOrderID"), col("ProductID"), col("Interval"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set(
      (101, 1, 1), (101, 1, 1), (102, 3, 1), // start + end boundary both contained
      (103, 1, 2),
      (104, 2, 3), // open-ended interval
      (106, 4, 3) // salable product without history still reaches the fact
    ).map(identity), s"fact assignment wrong: $got")
    // multi-line order: 2 rows for (101, P1) but one distinct order
    assert(fact.filter(col("ProductID") === 1 && col("SalesOrderID") === 101).count() == 2)
    assert(fact.filter(col("ProductID") === 1)
      .agg(countDistinct(col("SalesOrderID"))).collect().head.getLong(0) == 2)
  }
}
