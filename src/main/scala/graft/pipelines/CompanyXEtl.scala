package graft.pipelines

import graft.operators.AsOf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** The reference's ETL on its OWN schemas (FIXTURES.md §1/§2): the
  * CompanyX OLTP tables in, the `dwh` star schema out, stage-for-stage
  * (`/root/reference/src/pipelines/etl.py:44-107`):
  *
  *  1. salable filter  — `FinishedGoodsFlag` kept rows → DimProduct
  *     (etl.py:52); membership is a left-semi join here, never a
  *     collected `isin` list (etl.py:53 collects to a Python list);
  *  2. history merge   — CostHistory ⋈ ListPriceHistory on the full
  *     (ProductID, StartDate, EndDate) composite key, inner (etl.py:64),
  *     semi-joined to salable (etl.py:65);
  *  3. DimDate         — distinct (StartDate, EndDate) interval pairs
  *     with a surrogate Id (etl.py:78-81; the reference numbers by
  *     first-appearance index, we number by a deterministic sort —
  *     F17 policy: surrogate ids must be stable across runs);
  *  4. DimProductPriceCostHistory — history with the Interval FK
  *     resolved by a broadcast join on the tiny DimDate (etl.py:83-84);
  *  5. fact            — SalesOrderDetail ⟕ SalesOrderHeader on
  *     SalesOrderID (etl.py:69-70), salable semi-join (etl.py:73),
  *     then the as-of interval assignment: backward merge_asof on
  *     StartDate + containment post-filter with the open-ended
  *     `EndDate IS NULL` arm (etl.py:27-42), nulls dropped (etl.py:88).
  *     NOTE the reference semantics kept deliberately: assignment uses
  *     the GLOBAL interval dimension — a salable product with no price
  *     history still lands in the fact if its order date falls in some
  *     interval (only the history merge, not the fact, requires
  *     product-level history).
  *
  * DimDate is provably tiny (distinct global price intervals — single
  * digits in AdventureWorks-shaped data), so both its surrogate window
  * and the as-of join broadcast; the fact side streams through with
  * zero shuffles.
  */
object CompanyXEtl {

  /** The seven OLTP inputs (FIXTURES.md §1 schemas). */
  final case class Sources(
      product: DataFrame, // ProductID, Name, ProductSubcategoryID, FinishedGoodsFlag
      subcategory: DataFrame, // ProductSubcategoryID, Name, ProductCategoryID
      category: DataFrame, // ProductCategoryID, Name
      costHistory: DataFrame, // ProductID, StartDate, EndDate, StandardCost
      listPriceHistory: DataFrame, // ProductID, StartDate, EndDate, ListPrice
      orderHeader: DataFrame, // SalesOrderID, OrderDate, CustomerID
      orderDetail: DataFrame // ProductID, OrderQty, LineTotal, SalesOrderID
  )

  /** Pure transform: the warehouse star schema as DataFrames. */
  def build(src: Sources): Map[String, DataFrame] = {
    val dimProduct = src.product
      .filter(col("FinishedGoodsFlag"))
      .drop("FinishedGoodsFlag")
    val salable = dimProduct.select(col("ProductID"))

    // EndDate is part of the composite key and NULL on open intervals;
    // pandas merge matches NaN keys to each other (etl.py:64), so the
    // SQL equivalent needs null-safe equality (<=>), not = (which would
    // silently drop every open interval)
    val cost = src.costHistory
    val lph = src.listPriceHistory
    val history = cost
      .join(
        lph,
        cost("ProductID") === lph("ProductID") &&
          cost("StartDate") === lph("StartDate") &&
          cost("EndDate") <=> lph("EndDate"),
        "inner")
      .select(
        cost("ProductID"), cost("StartDate"), cost("EndDate"),
        cost("StandardCost"), lph("ListPrice"))
      .join(salable, Seq("ProductID"), "left_semi")

    // global window waiver: the distinct price-interval domain is
    // single-digit rows at any fact size
    val dimDate = history
      .select(col("StartDate"), col("EndDate"))
      .distinct()
      .withColumn(
        "Id",
        row_number().over(Window.orderBy(col("StartDate"), col("EndDate"))).cast(IntegerType))

    val dimPpch = history
      .join(
        broadcast(dimDate),
        history("StartDate") === dimDate("StartDate") &&
          history("EndDate") <=> dimDate("EndDate"),
        "inner")
      .select(
        history("ProductID"), history("StandardCost"), history("ListPrice"),
        dimDate("Id").as("Interval"))

    val sod = src.orderDetail
      .join(src.orderHeader.select(col("SalesOrderID"), col("OrderDate"), col("CustomerID")),
        Seq("SalesOrderID"), "left")
      .join(salable, Seq("ProductID"), "left_semi")

    val assigned = AsOf.backwardBroadcast(
      sod, dimDate,
      leftTime = "OrderDate", rightTime = "StartDate",
      by = Seq.empty, rightPayload = Seq("Id", "StartDate", "EndDate"))
    val fact = assigned
      // containment post-filter, open-ended on null EndDate (etl.py:39-42);
      // unmatched (Id null) and missing-header (OrderDate null) rows drop
      // here — the dropna at etl.py:88
      .filter(
        col("Id").isNotNull &&
          (col("EndDate").isNull || col("OrderDate") <= col("EndDate")) &&
          col("CustomerID").isNotNull)
      .withColumnRenamed("Id", "Interval")
      .drop("StartDate", "EndDate")

    Map(
      "DimProduct" -> dimProduct,
      "DimProductSubcategory" -> src.subcategory,
      "DimProductCategory" -> src.category,
      "DimDate" -> dimDate,
      "DimProductPriceCostHistory" -> dimPpch,
      "FactProductSales" -> fact)
  }
}
