package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The decision-support query layer (the reference's Streamlit pages,
  * `Clustering_Analysis.py` / `pages/1_Product_Categories.py` /
  * `pages/2_Product_Details.py`): parameterized DataFrame views over
  * the warehouse written by [[EtlJob]] + [[ClusteringJob]]. The
  * reference re-runs pandas on every widget change; here each
  * interaction is a lazy plan over cached warehouse tables — only the
  * final page-sized result is ever collected.
  *
  * `fact`, `clusters`, `products` and the `catalog` join are cached
  * when first used: the service's in-memory snapshot of the warehouse,
  * so a search page is one job over in-memory rows. When [[EtlJob]] or
  * [[ClusteringJob]] overwrite those tables through the same session,
  * Spark drops the cached rows and refills them from the new files on
  * the next call (an uncached frame would still list the deleted
  * files). `lastUpdate` reads the ledger on every call. Schemas resolve
  * through [[graft.Tables.read]], once per file fingerprint; that memo
  * holds metadata only, the rows come from the cache or the files.
  */
final class AnalyticsService(spark: SparkSession, warehouseDir: String) {

  private def tbl(name: String): DataFrame =
    graft.Tables.read(spark, s"$warehouseDir/$name")

  lazy val fact: DataFrame = tbl("FactSales").cache()
  lazy val clusters: DataFrame = tbl("product_clustering").cache()
  lazy val products: DataFrame = tbl("DimProduct").cache()

  /** Every clustered product with its DimProduct attributes (left join:
    * a product missing from the dimension keeps null attributes) — the
    * base every [[productSearch]] page filters, sorts and slices.
    */
  lazy val catalog: DataFrame =
    clusters
      .join(broadcast(products), clusters("part_id") === products("product_id"), "left")
      .cache()

  /** W1: ledger top-1 — when did each pipeline last run. */
  def lastUpdate(): DataFrame =
    tbl("PipelineLog")
      .groupBy(col("pipeline_name"))
      .agg(max(col("last_update")).as("last_update"))

  /** J7+A7: the main-page cluster summary (left join keeps products
    * with zero recent sales; COALESCE matches the reference's SQL).
    */
  def clusterSummary(): DataFrame =
    clusters
      .join(fact, clusters("part_id") === fact("product_id"), "left")
      .groupBy(col("part_id"), col("cluster"), col("profit"))
      .agg(
        coalesce(countDistinct(col("order_id")), lit(0L)).as("order_frequency"),
        coalesce(sum(col("quantity")), lit(0.0)).as("total_quantity"))

  /** A6: per-cluster stats with exact median. */
  def clusterStats(): DataFrame =
    clusters.groupBy(col("cluster")).agg(
      count(lit(1)).as("n_products"),
      round(avg(col("profit")), 2).as("avg_profit"),
      round(median(col("profit")), 2).as("median_profit"),
      round(sum(col("profit")), 2).as("total_profit"),
      round(avg(col("profit_margin")), 4).as("avg_margin"))

  /** A8: brand → product rollup of cluster membership. */
  def brandRollup(): DataFrame =
    clusters
      .join(broadcast(products), clusters("part_id") === products("product_id"))
      .rollup(col("brand_id"), col("cluster"))
      .agg(count(lit(1)).as("n"), round(sum(col("profit")), 2).as("profit"))

  /** A10: brand × cluster contingency pivot. */
  def clusterPivot(): DataFrame =
    clusters
      .join(broadcast(products), clusters("part_id") === products("product_id"))
      .groupBy(col("brand_id"))
      .pivot("cluster", 0 until ClusteringJob.K)
      .count()
      .na.fill(0)

  /** P9/P10/O1-O6: filtered, searched, sorted, paginated product list —
    * one widget interaction of the product-details page.
    */
  def productSearch(
      query: Option[String],
      cluster: Option[Int],
      sortCol: String,
      asc: Boolean,
      page: Int,
      pageSize: Int = 20): DataFrame =
    AnalyticsService.searchPage(catalog, query, cluster, sortCol, asc, page, pageSize)
}

object AnalyticsService {

  /** The widget-interaction core of [[AnalyticsService.productSearch]]
    * (`pages/2_Product_Details.py:124-231`): substring search over name
    * or id, optional cluster filter, one of the UI sort variants, and
    * stable offset pagination (total order via the part_id tiebreak).
    * Takes any base frame with (part_id, product_name, cluster, ...)
    * so the oracle-gated q145 drives the SAME code path the service
    * uses over the warehouse.
    */
  def searchPage(
      base: DataFrame,
      query: Option[String],
      cluster: Option[Int],
      sortCol: String,
      asc: Boolean,
      page: Int,
      pageSize: Int): DataFrame = {
    val searched = query.fold(base) { q =>
      base.filter(
        lower(col("product_name")).contains(q.toLowerCase)
          || col("part_id").cast("string").contains(q))
    }
    val filtered = cluster.fold(searched)(c => searched.filter(col("cluster") === c))
    val sorted = filtered.orderBy(
      (if (asc) col(sortCol).asc else col(sortCol).desc),
      col("part_id")) // total order => stable pagination
    sorted.offset(page * pageSize).limit(pageSize)
  }
}
