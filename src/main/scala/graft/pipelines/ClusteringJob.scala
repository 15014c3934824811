package graft.pipelines

import graft.operators.MLOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's clustering pipeline
  * (`/root/reference/src/pipelines/clustering.py:56-136`): read the
  * warehouse-shaped source, derive the 8-feature per-product matrix
  * (single conditional-aggregation pass — the reference's two fact
  * scans fused), z-score with POPULATION std (sklearn parity), KMeans
  * k=4 seed=42 the reference's way (sklearn's k-means++ with 10
  * restarts + Lloyd, [[MLOps.kmeansLocal]] on the collected z-matrix),
  * canonical relabel, land `product_clustering` + ledger. The fact-sized
  * passes (features, z-score moments) run distributed; only the
  * one-row-per-product matrix moves to the driver.
  */
object ClusteringJob {

  val K = 4

  /** Per-product features + canonical cluster id. Eager: the fit runs
    * here, the returned frame joins its labels as a broadcast local
    * relation.
    */
  def build(spark: SparkSession, srcDir: String): DataFrame = {
    val z = MLOps.zscored(spark, srcDir)
    val labels = MLOps.kmeansLocal(z, z.columns.filter(_.startsWith("z_")).toSeq, "part_id", K)
    // features(..).na.drop() is the exact frame zscored() caches, so
    // this reads the cache instead of deriving the features again
    MLOps.features(spark, srcDir).na.drop().join(broadcast(labels), Seq("part_id"))
  }

  def run(spark: SparkSession, srcDir: String, warehouseDir: String): Unit = {
    build(spark, srcDir)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$warehouseDir/product_clustering")
    EtlJob.appendLog(spark, warehouseDir, "ClusteringJob")
  }

  /** The clustering pipeline with the fixed-centroid labeler (nearest
    * literal centroid, the oracle-replayable q74/q145 assignment) in
    * place of the fit: same features, same landing table, same
    * ledger — the arm the end-to-end hash gate (q185) composes, because
    * a DuckDB oracle can replay a SQL assignment but not [[run]]'s
    * driver-side fit. [[run]] is the reference's fit, held to MLlib's
    * within-cluster sum of squares by ClusteringJobSpec.
    */
  def runDeterministic(spark: SparkSession, srcDir: String, warehouseDir: String): Unit = {
    MLOps.features(spark, srcDir).na.drop()
      .join(MLOps.centroidLabels(spark, srcDir).select(col("part_id"), col("cluster")),
        Seq("part_id"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$warehouseDir/product_clustering")
    EtlJob.appendLog(spark, warehouseDir, "ClusteringJob")
  }
}
