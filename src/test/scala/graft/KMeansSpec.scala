package graft

import graft.operators.MLOps
import org.apache.spark.sql.functions._

/** ML parity strategy from SURVEY.md §5.5: cluster LABELS are not
  * comparable across libraries, cluster PARTITIONS are. On a
  * well-separated fixture the canonicalized KMeans must recover the
  * generating partition exactly, and repeated runs must be identical.
  */
class KMeansSpec extends SparkSpec {
  import spark.implicits._

  // 3 well-separated blobs in 2-D, 8 points each, deterministic offsets
  private lazy val blobs = {
    val centers = Seq((0.0, 0.0), (100.0, 0.0), (0.0, 100.0))
    val pts = for {
      (cx, cy) <- centers
      i <- 0 until 8
    } yield (centers.indexOf((cx, cy)).toLong * 8 + i,
      cx + (i % 4) * 0.1, cy + (i / 4) * 0.1, centers.indexOf((cx, cy)))
    pts.toDF("id", "f0", "f1", "truth")
  }

  test("canonical kmeans recovers a well-separated partition (ARI = 1)") {
    val out = MLOps.kmeansCanonical(blobs, Seq("f0", "f1"), "id", 3)
    // every truth group maps to exactly one cluster id and vice versa
    val m = out.groupBy("truth").agg(countDistinct("cluster").as("k")).collect()
    assert(m.forall(_.getLong(1) == 1), "each blob must land in one cluster")
    val m2 = out.groupBy("cluster").agg(countDistinct("truth").as("k")).collect()
    assert(m2.forall(_.getLong(1) == 1), "no cluster may mix blobs")
  }

  test("canonical relabeling is deterministic across runs") {
    val a = MLOps.kmeansCanonical(blobs, Seq("f0", "f1"), "id", 3)
      .select("id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = MLOps.kmeansCanonical(blobs, Seq("f0", "f1"), "id", 3)
      .select("id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
  }

  test("q56's Lloyd core agrees with MLlib on a well-separated partition") {
    // the oracle-replayed fixed-iteration Lloyd (lloydAssign) and the
    // MLlib fit must produce the SAME partition of the blobs — labels
    // may differ, the grouping may not
    val inits = Seq(
      Map("f0" -> 10.0, "f1" -> 10.0),
      Map("f0" -> 90.0, "f1" -> 10.0),
      Map("f0" -> 10.0, "f1" -> 90.0))
    val lloyd = MLOps.lloydAssign(spark, blobs, Seq("f0", "f1"), inits, MLOps.LloydIters)
      .select("id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val mllib = MLOps.kmeansCanonical(blobs, Seq("f0", "f1"), "id", 3)
      .select("id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pairing = lloyd.keys.groupBy(lloyd).view.mapValues(_.map(mllib).toSet)
    assert(pairing.values.forall(_.size == 1),
      s"each Lloyd cluster must map to exactly one MLlib cluster: $pairing")
    assert(pairing.values.flatten.toSet.size == 3, "the mapping must be a bijection")
    val again = MLOps.lloydAssign(spark, blobs, Seq("f0", "f1"), inits, MLOps.LloydIters)
      .select("id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lloyd == again, "Lloyd assignment must be run-to-run deterministic")
  }

  test("q57: sequence-embedding clustering certificate is total, bounded, deterministic") {
    // the M5 path end to end — q127's deterministic projection feeding
    // kmeansCanonical; q57's output is the bounded-quality certificate
    // (exact arms + within-bound booleans) the driver hash-gates
    val parts = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_partkey")).distinct().count()
    val rows = SparkEntry.queries("q57_kmeans_embeddings")(spark, sf("sf0.001")).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_parts") == parts, "every part must be assigned exactly once")
    assert(r.getAs[Long]("n_clusters") == 10L, "all 10 MLlib clusters must be non-empty")
    assert(r.getAs[Boolean]("wss_ok"),
      "converged MLlib WSS must be within 5% of the 5-iteration Lloyd WSS")
    assert(r.getAs[Boolean]("ari_floor_ok"),
      "exact-integer ARI vs the Lloyd partition must stay >= 0.10")
    val again = SparkEntry.queries("q57_kmeans_embeddings")(spark, sf("sf0.001")).collect()
    assert(rows.sameElements(again), "the certificate must be run-to-run deterministic")
  }

  test("kmeans on the embeddings table is total, k-covering, deterministic") {
    // NB the synthetic labels are heavily overlapping blobs (intra-spread
    // ~1.0 vs centroid separation ~0.2), so label recovery is NOT a
    // valid expectation; totality + canonical determinism is.
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("arr"))
    val cols = (0 until 64).map(i => col("arr").getItem(i).as(s"x$i"))
    val flat = e.select(col("vec_id") +: col("label") +: cols: _*)
    val out = MLOps.kmeansCanonical(flat, (0 until 64).map(i => s"x$i"), "vec_id", 10)
    assert(out.count() == flat.count(), "every vector must be assigned")
    val sizes = out.groupBy("cluster").count().orderBy(col("cluster"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    assert(sizes.map(_._1).toSeq == (0 until 10), "canonical ids must be 0..k-1")
    assert(sizes.map(_._2).toSeq == sizes.map(_._2).sortBy(-_).toSeq,
      "canonical ids must be ordered by descending cluster size")
  }

  test("q163 elbow: exact WSS decomposition, full partition per k, BigInt recompute") {
    val d = sf("sf0.001")
    val rows = SparkEntry.queries("q163_elbow_wss")(spark, d).collect()
    val ks = MLOps.ElbowKs.toSeq
    // one row per realized cluster; every k partitions the SAME z-matrix
    val perK = rows.groupBy(_.getAs[Int]("k"))
    assert(perK.keySet == ks.toSet)
    val totals = perK.view.mapValues(_.map(_.getAs[Long]("n_parts")).sum).toMap
    assert(totals.values.toSet.size == 1,
      s"every k must partition the same row set: $totals")
    rows.foreach(r => assert(r.getAs[Long]("wss_micro") >= 0L))
    // independent recomputation for k=3: label via the same Lloyd core,
    // then rebuild each cluster's WSS from raw micro-z values in BigInt
    // (the oracle pins engine parity; this pins the STATS themselves)
    val feats = Seq("profit", "profit_margin", "average_unit_price",
      "avg_quantity_sold", "nunique_customer", "customer_loyalty",
      "revenue_growth", "selling_duration").map(f => s"z_$f")
    val labeled = MLOps.elbowLabeledForTest(spark, d, 3)
      .select(col("cluster") +: feats.map(f => round(col(f) * 1000000).cast("long").as(f)): _*)
      .collect()
    val expected = labeled.groupBy(_.getAs[Int]("cluster")).map { case (c, rs) =>
      val n = BigInt(rs.length)
      val wss = feats.map { f =>
        val xs = rs.map(r => BigInt(r.getAs[Long](f)))
        n * xs.map(x => x * x).sum - xs.sum * xs.sum
      }.sum
      c -> (rs.length.toLong, (wss / (n * 1000000)).toLong)
    }
    val got = perK(3).map(r =>
      r.getAs[Int]("cluster") -> (r.getAs[Long]("n_parts"), r.getAs[Long]("wss_micro"))).toMap
    assert(got == expected, s"k=3 WSS diverges:\n got=$got\n exp=$expected")
    spark.catalog.clearCache()
  }

  test("the selection sweep seeds Lloyd from the k lowest-part_id z-rows") {
    // pins the seed policy in tier-1 (DuckDB parity pins it too): the
    // sweep's k=4 labels equal lloydAssign from the literal z-rows of
    // the 4 smallest part_ids, on a differently partitioned z-matrix
    val d = sf("sf0.001")
    val zFeats = MLOps.MatrixFeatures.map(f => s"z_$f")
    val zs = MLOps.zscored(spark, d).repartition(7)
    val inits = zs.orderBy(col("part_id")).limit(4).collect().toSeq
      .map(r => zFeats.map(f => f -> r.getAs[Double](f)).toMap)
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select(col("part_id"), col("cluster")).collect()
        .map(r => r.getAs[Long]("part_id") -> r.getAs[Int]("cluster")).toMap
    val sweep = labels(MLOps.elbowLabeledForTest(spark, d, 4))
    val literal = labels(MLOps.lloydAssign(spark, zs, zFeats, inits, MLOps.LloydIters))
    assert(sweep.nonEmpty)
    assert(sweep == literal, {
      val diff = (sweep.keySet ++ literal.keySet).filter(p => sweep.get(p) != literal.get(p))
      s"${diff.size} parts differ, e.g. ${diff.take(5).map(p => (p, sweep.get(p), literal.get(p)))}"
    })
    spark.catalog.clearCache()
  }

  test("q164 CH index: TSS invariant, exact W/B decomposition, ties to q163's floors") {
    val d = sf("sf0.001")
    val ch = SparkEntry.queries("q164_ch_index")(spark, d).collect()
      .map(r => r.getAs[Int]("k") -> r).toMap
    val elbow = SparkEntry.queries("q163_elbow_wss")(spark, d).collect()
    assert(ch.keySet == MLOps.ElbowKs.toSet)
    // TSS is a property of the z-matrix alone — identical for every k
    assert(ch.values.map(_.getAs[Long]("tss_micro")).toSet.size == 1)
    ch.foreach { case (k, r) =>
      val (tss, w, b) = (r.getAs[Long]("tss_micro"),
        r.getAs[Long]("w_micro"), r.getAs[Long]("b_micro"))
      assert(w + b == tss, s"k=$k: W + B must equal TSS exactly")
      assert(w > 0L && b >= 0L)
      // the same assignments and the same micro floors as the elbow:
      // q164's W is exactly the sum of q163's per-cluster rows
      val elbowW = elbow.filter(_.getAs[Int]("k") == k)
        .map(_.getAs[Long]("wss_micro")).sum
      assert(w == elbowW, s"k=$k: W diverges from q163's floors ($w vs $elbowW)")
      // exact CH formula replay in BigInt
      val n = r.getAs[Long]("n_parts")
      val expCh = (BigInt(b) * (n - k) * 1000000 / (BigInt(w) * (k - 1))).toLong
      assert(r.getAs[Long]("ch_micro") == expCh, s"k=$k: CH formula diverges")
    }
    spark.catalog.clearCache()
  }

  test("q166 ARI: self-pair anchor = 1e6, BigInt contingency replay, bounds") {
    val d = sf("sf0.001")
    val rows = SparkEntry.queries("q166_ari_stability")(spark, d).collect()
    assert(rows.map(r => (r.getAs[Int]("k_a"), r.getAs[Int]("k_b"))).toSeq ==
      MLOps.AriPairs)
    // ARI never exceeds 1; the self-pair is EXACTLY 1e6 (the live
    // scale anchor: identical partitions agree perfectly)
    rows.foreach(r => assert(r.getAs[Long]("ari_micro") <= 1000000L))
    val self = rows.find(r =>
      r.getAs[Int]("k_a") == 4 && r.getAs[Int]("k_b") == 4).get
    assert(self.getAs[Long]("ari_micro") == 1000000L)
    assert(self.getAs[Long]("s_pairs") == self.getAs[Long]("a_pairs") &&
      self.getAs[Long]("a_pairs") == self.getAs[Long]("b_pairs"))
    // independent BigInt replay of the (3,4) row from the SAME
    // labelings (the oracle pins engine parity; this pins the math)
    def labelsOf(k: Int): Map[Long, Int] =
      MLOps.elbowLabeledForTest(spark, d, k)
        .select(col("part_id"), col("cluster")).collect()
        .map(r => r.getAs[Long]("part_id") -> r.getAs[Int]("cluster")).toMap
    val la = labelsOf(3)
    val lb = labelsOf(4)
    assert(la.keySet == lb.keySet)
    val cont = la.keys.toSeq.map(p => (la(p), lb(p)))
      .groupBy(identity).view.mapValues(xs => BigInt(xs.size)).toMap
    def c2(x: BigInt): BigInt = x * (x - 1) / 2
    val sP = cont.values.map(c2).sum
    val aP = cont.toSeq.groupBy(_._1._1).values
      .map(xs => c2(xs.map(_._2).sum)).sum
    val bP = cont.toSeq.groupBy(_._1._2).values
      .map(xs => c2(xs.map(_._2).sum)).sum
    val c2n = c2(BigInt(la.size))
    val num = 2 * c2n * sP - 2 * aP * bP
    val den = c2n * (aP + bP) - 2 * aP * bP
    val ari = if (num >= 0) num * 1000000 / den else -((-num) * 1000000 / den)
    val r34 = rows.find(r =>
      r.getAs[Int]("k_a") == 3 && r.getAs[Int]("k_b") == 4).get
    assert(r34.getAs[Long]("n_parts") == la.size.toLong)
    assert(r34.getAs[Long]("s_pairs") == sP.toLong)
    assert(r34.getAs[Long]("a_pairs") == aP.toLong)
    assert(r34.getAs[Long]("b_pairs") == bP.toLong)
    assert(r34.getAs[Long]("ari_micro") == ari.toLong,
      s"ARI replay diverges: got ${r34.getAs[Long]("ari_micro")}, expected $ari")
    spark.catalog.clearCache()
  }

  test("q165 incremental assign: delivery-only rows, frozen-model exact replay (BigInt)") {
    val d = sf("sf0.001")
    val out = SparkEntry.queries("q165_incremental_cluster_assign")(spark, d).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert((0 until MLOps.ServeK).contains(r.getAs[Int]("cluster")))
      assert(r.getAs[Long]("dist2_micro") >= 0L)
    }
    // the pinned model: standing z-moments + fitted centroids
    val (statsDir, centDir, _) = MLOps.clusterModel(spark, d)
    val stats = operators.Snapshots.read(spark, statsDir).collect().head
    val cent = operators.Snapshots.read(spark, centDir).collect().head
    // the delivery universe: features filtered by part bucket — the
    // output must cover EXACTLY the >= 90 bucket (so the model never
    // saw these parts, and no delivery part is dropped)
    val bucket = graft.functions.TextFns.h60(col("part_id").cast("string")) % 100
    val fd = MLOps.features(spark, d).na.drop().filter(bucket >= 90).collect()
    assert(out.map(_.getAs[Long]("part_id")).toSet ==
      fd.map(_.getAs[Long]("part_id")).toSet,
      "output must be exactly the delivery-bucket feature rows")
    // plain-Scala replay of the serve: z-score with the FROZEN standing
    // moments (never the delivery's own), argmin over the FROZEN
    // centroids, integer distance in BigInt
    val feats = Seq("profit", "profit_margin", "average_unit_price",
      "avg_quantity_sold", "nunique_customer", "customer_loyalty",
      "revenue_growth", "selling_duration")
    val n = stats.getAs[Double]("n")
    def num(r: org.apache.spark.sql.Row, c: String): Double =
      r.getAs[Any](c) match {
        case v: Double => v
        case v: Long   => v.toDouble
        case v: Int    => v.toDouble
      }
    def half(v: Double): Long =
      BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expected = fd.map { r =>
      val zv = feats.map { c =>
        val mean = stats.getAs[Double](s"sum_$c") / n
        val meansq = stats.getAs[Double](s"sumsq_$c") / n
        val std = math.sqrt(math.max(meansq - mean * mean, 0.0))
        c -> BigDecimal((num(r, c) - mean) / std)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
      val dists = (0 until MLOps.ServeK).map(cl =>
        feats.map { c =>
          val dz = zv(c) - cent.getAs[Double](s"c${cl}_z_$c")
          dz * dz
        }.reduceLeft(_ + _))
      val cl = dists.indexOf(dists.min)
      val dist2 = feats.map { c =>
        val dz = BigInt(half(zv(c) * 1000000)) -
          BigInt(half(cent.getAs[Double](s"c${cl}_z_$c") * 1000000))
        dz * dz
      }.sum / 1000000
      r.getAs[Long]("part_id") -> (cl, dist2.toLong)
    }.toMap
    val got = out.map(r => r.getAs[Long]("part_id") ->
      (r.getAs[Int]("cluster"), r.getAs[Long]("dist2_micro"))).toMap
    assert(got == expected, {
      val diff = (got.keySet ++ expected.keySet)
        .filter(k => got.get(k) != expected.get(k)).take(5)
      s"frozen-model replay diverges on ${diff.map(k => (k, got.get(k), expected.get(k)))}"
    })
    spark.catalog.clearCache()
  }

  test("q176 drift: delta histogram == q165's assignments, BigInt share-gap replay") {
    val d = sf("sf0.001")
    val drift = SparkEntry.queries("q176_cluster_mix_drift")(spark, d).collect()
      .map(r => (r.getAs[Int]("cluster"), r.getAs[Long]("n_base"), r.getAs[Long]("n_delta"),
        r.getAs[Long]("drift_micro"))).toSeq.sortBy(_._1)
    assert(drift.nonEmpty && drift.map(_._1).distinct.size == drift.size)
    // the delta side must be exactly q165's per-part assignments,
    // histogrammed — same frozen model, same delivery
    val fromQ165 = SparkEntry.queries("q165_incremental_cluster_assign")(spark, d)
      .collect().groupBy(_.getAs[Int]("cluster")).view.mapValues(_.length.toLong).toMap
    drift.foreach { case (c, _, nd, _) =>
      assert(nd == fromQ165.getOrElse(c, 0L),
        s"cluster $c delta count $nd != q165 histogram ${fromQ165.get(c)}")
    }
    // share-gap arithmetic replayed in BigInt from the shipped counts
    val nb = drift.map(_._2).sum
    val nd = drift.map(_._3).sum
    assert(nb > 0 && nd > 0)
    drift.foreach { case (c, b, dl, dr) =>
      val exp = ((BigInt(b) * nd - BigInt(dl) * nb).abs * 1000000 / (BigInt(nb) * nd)).toLong
      assert(dr == exp, s"cluster $c drift $dr != BigInt replay $exp")
    }
    spark.catalog.clearCache()
  }

  test("q181 centroid drift == BigInt replay from the serve frame against the pinned centroids") {
    val d = sf("sf0.001")
    def microR(x: Double): Long =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val rows = SparkEntry.queries("q181_centroid_drift")(spark, d).collect()
      .map(r => (r.getAs[Int]("cluster"), r.getAs[Long]("n_delta"),
        r.getAs[Long]("drift_l1_micro"), r.getAs[Long]("drift_max_micro")))
      .sortBy(_._1)
    // all k clusters reported, hit or not
    assert(rows.map(_._1).toSeq == (0 until operators.MLOps.ServeK))
    val zFeats = operators.MLOps.MatrixFeatures.map(f => s"z_$f")
    val labeled = operators.MLOps.serveLabeled(spark, d).collect()
      .map(r => (r.getAs[Int]("cluster"),
        zFeats.map(f => microR(r.getAs[Double](f))).toVector))
    val (_, centDir, _) = operators.MLOps.clusterModel(spark, d)
    val cent = operators.Snapshots.read(spark, centDir).collect().head
    rows.foreach { case (c, n, l1, mx) =>
      val members = labeled.filter(_._1 == c).map(_._2)
      assert(n == members.length.toLong, s"cluster $c count $n != ${members.length}")
      if (n == 0) assert(l1 == 0L && mx == 0L)
      else {
        val disps = zFeats.indices.map { j =>
          val sum = members.map(m => BigInt(m(j))).sum
          val cm = BigInt(microR(cent.getAs[Double](s"c${c}_${zFeats(j)}")))
          // floor division of the non-negative displacement
          ((sum - BigInt(n) * cm).abs / n).toLong
        }
        assert(l1 == disps.sum, s"cluster $c L1 $l1 != replay ${disps.sum} ($disps)")
        assert(mx == disps.max, s"cluster $c max $mx != replay ${disps.max}")
      }
      assert(mx <= l1 && l1 <= mx * zFeats.length,
        s"cluster $c: L1/max geometry violated ($l1, $mx)")
    }
    spark.catalog.clearCache()
  }
}
