package graft

import graft.operators.MLOps
import graft.pipelines.ClusteringJob
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The nightly fit ([[ClusteringJob.build]] through
  * [[MLOps.kmeansLocal]]): at least MLlib's quality, canonical and
  * non-empty clusters, labels independent of run and partitioning, a
  * bounded number of Spark jobs, and a constant feature that changes
  * nothing.
  */
class ClusteringJobSpec extends SparkSpec {

  private val zCols = MLOps.MatrixFeatures.map(c => s"z_$c")

  /** part_id → z vector (a NULL z reads 0.0, as the fit reads it). */
  private def zMatrix(d: String): Map[Long, Array[Double]] =
    MLOps.zscored(spark, d).collect().map { r =>
      r.getAs[Number]("part_id").longValue ->
        zCols.map(c => Option(r.getAs[java.lang.Double](c)).fold(0.0)(_.doubleValue)).toArray
    }.toMap

  private def labels(df: DataFrame): Map[Long, Int] =
    df.select("part_id", "cluster").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getInt(1)).toMap

  /** Within-cluster sum of squares of `lab` over `z`. */
  private def wcss(z: Map[Long, Array[Double]], lab: Map[Long, Int]): Double =
    lab.keys.groupBy(lab).values.map { ids =>
      val pts = ids.toSeq.sorted.map(z)
      val mean = pts.transpose.map(_.sum / pts.size)
      pts.map(p => p.zip(mean).map { case (a, m) => (a - m) * (a - m) }.sum).sum
    }.sum

  private def clean(): Unit = spark.catalog.clearCache()

  for (d <- Seq("sf0.001", "sf0.01"))
    test(s"$d: the fit's WCSS is at most 1.01 x MLlib's kmeansCanonical") {
      clean()
      val z = zMatrix(sf(d))
      val ours = wcss(z, labels(ClusteringJob.build(spark, sf(d))))
      val mllib = wcss(z, labels(MLOps.kmeansCanonical(MLOps.zscored(spark, sf(d)), zCols, "part_id",
        ClusteringJob.K)))
      info(f"$d WCSS: kmeansLocal $ours%.2f, kmeansCanonical $mllib%.2f")
      assert(ours <= 1.01 * mllib, s"WCSS $ours vs MLlib $mllib")
    }

  test("sf0.01: all K clusters are non-empty and sizes do not increase with the id") {
    clean()
    val out = ClusteringJob.build(spark, sf("sf0.01"))
    val sizes = labels(out).values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes.keySet == (0 until ClusteringJob.K).toSet, s"cluster sizes $sizes")
    val bySize = (0 until ClusteringJob.K).map(sizes)
    assert(bySize == bySize.sortBy(-_), s"sizes by id $bySize")
    assert(out.count() == MLOps.features(spark, sf("sf0.01")).na.drop().count())
  }

  test("sf0.01: labels are identical across runs and shuffle-partition counts") {
    def fresh(): Map[Long, Int] = { clean(); labels(ClusteringJob.build(spark, sf("sf0.01"))) }
    val a = fresh()
    assert(fresh() == a, "two runs differ")
    for (p <- Seq(4, 7))
      assert(Parts.scoped(spark)(_ => p)(fresh()) == a, s"labels differ at $p shuffle partitions")
  }

  test("sf0.01: ClusteringJob.run submits at most 20 jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cluster_jobs").toString
    ClusteringJob.run(spark, sf("sf0.01"), dir) // resolves the source schemas
    clean()
    val (_, jobs) = jobsOf(ClusteringJob.run(spark, sf("sf0.01"), dir))
    info(s"ClusteringJob.run: $jobs jobs")
    assert(jobs <= 20, s"$jobs jobs")
  }

  test("a constant feature (NULL z) gives the same partition as the matrix without it") {
    val z = MLOps.zscored(spark, sf("sf0.001")).localCheckpoint()
    val base = labels(MLOps.kmeansLocal(z, zCols, "part_id", ClusteringJob.K))
    val withNull = z.withColumn("z_const", lit(null).cast("double"))
    assert(labels(MLOps.kmeansLocal(withNull, zCols :+ "z_const", "part_id", ClusteringJob.K)) == base)
    val withZero = z.withColumn("z_const", lit(0.0))
    assert(labels(MLOps.kmeansLocal(withZero, zCols :+ "z_const", "part_id", ClusteringJob.K)) == base)
  }

  test("kmeansFit recovers well-separated blobs and is deterministic") {
    val x = (for (c <- Seq((0.0, 0.0), (50.0, 0.0), (0.0, 50.0)); i <- 0 until 8)
      yield Array(c._1 + (i % 4) * 0.1, c._2 + (i / 4) * 0.1)).toArray
    val lab = MLOps.kmeansFit(x, 3)
    assert(lab.grouped(8).forall(_.distinct.length == 1), lab.mkString(","))
    assert(lab.distinct.length == 3)
    assert(MLOps.kmeansFit(x, 3).sameElements(lab))
  }
}
