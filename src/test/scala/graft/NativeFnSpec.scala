package graft

import graft.functions.ArrayDot
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The native codegen ArrayDot expression: value correctness vs a
  * driver-side reference, codegen path exercised, and plan-level
  * agreement of the native top-k with the decimal-exact q51 twin.
  */
class NativeFnSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot matches driver-side computation exactly") {
    ArrayDot.register(spark)
    val df = Seq(
      (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (2L, Array(0.5, -0.5), Array(2.0, 2.0)),
      (3L, Array.empty[Double], Array.empty[Double])
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), expr("graft_dot(a, b)").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == (1.0 * 4 + 2 * 5 + 3 * 6))
    assert(got(2L) == 0.0)
    assert(got(3L) == 0.0)
  }

  test("graft_dot handles nulls and float-array implicit casts") {
    ArrayDot.register(spark)
    val df = Seq(
      (1L, Some(Array(1.0f, 2.0f)), Some(Array(3.0f, 4.0f))),
      (2L, None, Some(Array(1.0f)))
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), expr("graft_dot(a, b)").as("d")).collect()
    assert(got.find(_.getLong(0) == 1L).get.getDouble(1) == 11.0)
    assert(got.find(_.getLong(0) == 2L).get.isNullAt(1))
  }

  test("graft_dot runs inside WholeStageCodegen") {
    ArrayDot.register(spark)
    val df = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("embedding").cast("array<double>").as("v"))
      .select(expr("graft_dot(v, v)").as("d"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" marks operators inside a WholeStageCodegen stage; the
    // graft_dot projection must carry it (no codegen fallback)
    assert(plan.linesIterator.exists(l => l.contains("graft_dot") && l.contains("*(")),
      s"expected graft_dot inside a codegen stage:\n$plan")
    assert(df.agg(sum("d")).head().getDouble(0) > 0)
  }

  test("native top-k ranking equals the decimal-exact q51 ranking") {
    val native = Similarity.nativeTopk(spark, sf("sf0.001"))
      .select("query_id", "cand_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = SparkEntry.queries("q51_cosine_topk")(spark, sf("sf0.001"))
      .select("query_id", "cand_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(native == exact)
  }

  test("IVF top-k recalls most of the exact top-k (approximate by design)") {
    def pairs(name: String) = SparkEntry.queries(name)(spark, sf("sf0.001"))
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("q51_cosine_topk")
    val ivf = pairs("q76_ivf_topk")
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    // learned quantizer (k=5, one Lloyd step), nprobe=2, top-2
    // multi-assignment: measured 0.90 here at sf0.001, 0.825 at sf0.01.
    // This corpus has almost no cluster structure (overlapping blobs),
    // so recall is bounded by probed-fraction + locality — the floor is
    // the realistic bar for this data, not headroom slack.
    assert(recall >= 0.8, s"IVF recall@10 degraded to $recall")
  }

  test("SQ8 shortlist+rerank recalls nearly all of the exact top-k") {
    def pairs(name: String) = SparkEntry.queries(name)(spark, sf("sf0.001"))
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("q51_cosine_topk")
    val sq = pairs("q139_sq8_topk")
    val recall = sq.intersect(exact).size.toDouble / exact.size
    // int8 rounding noise is tiny relative to a 32-deep shortlist:
    // measured 0.9875 here at sf0.001, 1.0 at sf0.01 — losses only
    // where two cosines agree to ~1/127 of the scale range
    assert(recall >= 0.95, s"SQ8 recall@10 degraded to $recall")
  }

  test("PQ top-k: dense per-query contract, no self-matches, recall holds") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SparkEntry.queries("q51_cosine_topk")(spark, sf("sf0.001")))
    val pq = SparkEntry.queries("q191_pq_topk")(spark, sf("sf0.001"))
    val rows = pq.collect()
    assert(rows.length == 80, s"8 queries x top-10, got ${rows.length}")
    assert(rows.groupBy(_.getLong(0)).forall { case (_, rs) =>
      rs.map(_.getInt(3)).sorted.toSeq == (1 to 10)
    }, "ranks must be dense 1..10 per query")
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)), "a query matched itself")
    val recall = pairs(pq).intersect(exact).size.toDouble / exact.size
    // K=32 codewords x 8 subspaces, 96-deep rerank: measured 0.85 here,
    // 0.90 at sf0.01 — the same structureless-corpus ceiling that bounds
    // the IVF test above, so the floor matches IVF's
    assert(recall >= 0.8, s"PQ recall@10 degraded to $recall")
  }

  test("PQ recall@10 holds at sf0.1 for both training (q191) and frozen serve (q196)") {
    // The sf0.001/0.01 gates above prove the codebook machinery; this
    // row is the SCALE evidence (4x corpus, the largest gated SF) the
    // IVF family already carries. Floor 0.70 = the q195 hash-gate bound
    // (measured here: q191 0.74, q196 in the same band — the
    // structureless-corpus ceiling documented at Similarity.PqShortlist).
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d = sf("sf0.1")
    val exact = pairs(SparkEntry.queries("q51_cosine_topk")(spark, d))
    val r191 = pairs(SparkEntry.queries("q191_pq_topk")(spark, d))
      .intersect(exact).size.toDouble / exact.size
    val r196 = pairs(SparkEntry.queries("q196_pq_serve")(spark, d))
      .intersect(exact).size.toDouble / exact.size
    val r199 = pairs(SparkEntry.queries("q199_ivfpq_serve")(spark, d))
      .intersect(exact).size.toDouble / exact.size
    info(f"sf0.1 recall@10: q191 trained = $r191%.4f, q196 frozen serve = $r196%.4f, " +
      f"q199 ivf-pq = $r199%.4f")
    assert(r191 >= 0.70, s"q191 PQ recall@10 degraded at sf0.1: $r191")
    assert(r196 >= 0.70, s"q196 frozen-serve recall@10 degraded at sf0.1: $r196")
    assert(r199 >= 0.70, s"q199 ivf-pq recall@10 degraded at sf0.1: $r199")
  }

  test("PQ frozen codebook survives a 10x shifted-copy corpus (sf1-equivalent)") {
    // The q196 deployment story at the next scale decade: a codebook
    // trained ONCE on the standing sf0.1 bucket serves a corpus 10x
    // bigger whose new vectors have DRIFTED (each copy c of the base
    // corpus is offset by 0.013*c per dim — mild distribution shift, the
    // realistic failure mode for a frozen quantizer). Recall@10 is
    // judged against the exact cosine top-k over the SAME 20k-vector
    // corpus, so the gate measures quantization quality alone.
    import org.apache.spark.sql.functions.posexplode
    val d = sf("sf0.1")
    val copies = spark.range(10).select(col("id").cast("int").as("copy"))
    val el = Tables.embeddings(spark, d)
      .crossJoin(broadcast(copies))
      .select(
        (col("vec_id") + col("copy").cast("long") * 1000000L).as("vec_id"),
        col("copy"),
        transform(col("embedding"),
          x => x + col("copy").cast("float") * lit(0.013f)).as("embedding"))
      .repartition(col("vec_id"))
      .select(col("vec_id"), col("copy"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("copy"), col("pos"), col("xf").cast("double").as("x"))
      .withColumn("m", (col("pos") / 8).cast("int"))
      .cache()
    // frozen codebook: trained on the BASE corpus's standing bucket
    // only (q196's training set), never on the drifted copies
    val cent = Similarity.pqTrain(
      el.filter(col("copy") === 0 && Similarity.pqStanding).drop("copy"))
    val served = el.drop("copy")
    val pq = Similarity.pqAdcTopk(served, cent, Similarity.pqAssign(served, cent),
      Similarity.PqServeShortlist)
    // exact = full-candidate rerank (brute force): every query x cand pair
    val allPairs = served.filter(col("vec_id") < 8).select(col("vec_id").as("query_id"))
      .distinct()
      .crossJoin(served.select(col("vec_id").as("cand_id")).distinct())
      .filter(col("query_id") =!= col("cand_id"))
    val exact = Similarity.exactRerank(served, allPairs)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pairs(pq).intersect(pairs(exact)).size.toDouble / pairs(exact).size
    el.unpersist()
    info(f"10x shifted-copy corpus recall@10 = $recall%.4f")
    assert(recall >= 0.70,
      s"frozen-codebook recall@10 collapsed on the 10x drifted corpus: $recall")
  }

  test("IVF-PQ frozen two-layer index survives the 10x shifted-copy corpus") {
    // q199's drift fixture, mirroring the q196 one above: BOTH layers
    // (coarse quantizer AND codebook) are trained once on the base
    // corpus's standing bucket, then serve a 10x corpus whose new
    // vectors drifted 0.013*copy per dim. The IVF pruning adds a
    // second failure mode the PQ-only test cannot see — a drifted
    // vector landing in the wrong cell is invisible to ADC — so this
    // gate measures the composed index, not the codebook alone.
    import org.apache.spark.sql.functions.posexplode
    val d = sf("sf0.1")
    val copies = spark.range(10).select(col("id").cast("int").as("copy"))
    val el = Tables.embeddings(spark, d)
      .crossJoin(broadcast(copies))
      .select(
        (col("vec_id") + col("copy").cast("long") * 1000000L).as("vec_id"),
        col("copy"),
        transform(col("embedding"),
          x => x + col("copy").cast("float") * lit(0.013f)).as("embedding"))
      .repartition(col("vec_id"))
      .select(col("vec_id"), col("copy"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("copy"), col("pos"), col("xf").cast("double").as("x"))
      .withColumn("m", (col("pos") / 8).cast("int"))
      .cache()
    val base = el.filter(col("copy") === 0 && Similarity.pqStanding).drop("copy").cache()
    val init = Tables.embeddings(spark, d)
      .filter(Similarity.pqStanding)
      .select(col("vec_id"), (col("label") % Similarity.IvfCells).cast("int").as("cell"))
    val trained = Similarity.ivfTrain(base, init).localCheckpoint(true)
    val cent = Similarity.pqTrain(base)
    val served = el.drop("copy")
    val pq = Similarity.ivfPqServeCore(served, trained, cent,
      Similarity.ivfAssignCells(served, trained), Similarity.pqAssign(served, cent))
    val allPairs = served.filter(col("vec_id") < 8).select(col("vec_id").as("query_id"))
      .distinct()
      .crossJoin(served.select(col("vec_id").as("cand_id")).distinct())
      .filter(col("query_id") =!= col("cand_id"))
    val exact = Similarity.exactRerank(served, allPairs)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pairs(pq).intersect(pairs(exact)).size.toDouble / pairs(exact).size
    el.unpersist()
    base.unpersist()
    info(f"10x shifted-copy corpus ivf-pq recall@10 = $recall%.4f")
    assert(recall >= 0.70,
      s"frozen ivf-pq recall@10 collapsed on the 10x drifted corpus: $recall")
  }

  test("IVF-PQ serve: the pinned two-layer index answers exactly like an inline recompute") {
    // the staleness net for the 4-part ivfpq_index artifact (the
    // GraphSpec served==inline discipline): a stale/torn published
    // part — either layer — cannot match a fresh recompute. Inline
    // assigns/encodes EVERYONE against freshly trained artifacts,
    // which equals standing-parts ∪ delta since both assignments are
    // pure functions of the frozen artifacts.
    val d = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val served = rows(SparkEntry.queries("q199_ivfpq_serve")(spark, d))
    val elp = Similarity.pqElems(spark, d).cache()
    val sel = elp.filter(Similarity.pqStanding).cache()
    val init = Tables.embeddings(spark, d)
      .filter(Similarity.pqStanding)
      .select(col("vec_id"), (col("label") % Similarity.IvfCells).cast("int").as("cell"))
    val trained = Similarity.ivfTrain(sel, init).localCheckpoint(true)
    val cent = Similarity.pqTrain(sel)
    val inline = rows(Similarity.ivfPqServeCore(elp, trained, cent,
      Similarity.ivfAssignCells(elp, trained), Similarity.pqAssign(elp, cent)))
    assert(served == inline, "served IVF-PQ index diverged from the inline recompute")
    assert(Similarity.ivfPqIndex(spark, d) == Similarity.ivfPqIndex(spark, d))
  }

  test("PQ serve: the pinned index answers exactly like an inline recompute; the delta is real") {
    val d = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val served = rows(SparkEntry.queries("q196_pq_serve")(spark, d))
    // inline twin: fresh standing-bucket training + frozen-codebook
    // encode of everyone — the staleness net (a stale/torn published
    // codebook or codes part cannot match a fresh recompute)
    val el = Similarity.pqElems(spark, d).cache()
    val cent = Similarity.pqTrain(el.filter(Similarity.pqStanding))
    val inline = rows(Similarity.pqAdcTopk(el, cent, Similarity.pqAssign(el, cent),
      Similarity.PqServeShortlist))
    assert(served == inline, "served PQ index diverged from the inline recompute")
    // the delivery split is non-degenerate: both buckets populated
    val nDelta = Tables.embeddings(spark, d)
      .filter(!Similarity.pqStanding).count()
    assert(nDelta > 0 && nDelta < 500, s"delta bucket degenerate: $nDelta of 500")
    // index memoized per dataset
    assert(Similarity.pqIndex(spark, d) == Similarity.pqIndex(spark, d))
  }

  test("filtered ANN: every hit satisfies the predicate; recall within the filtered set holds") {
    ArrayDot.register(spark)
    val d = sf("sf0.001")
    val fa = SparkEntry.queries("q192_filtered_ann")(spark, d)
    val rows = fa.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 80, "pre-filtering must still return k results per query")
    val allowed = Tables.embeddings(spark, d)
      .filter(col("label") % 4 === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => allowed(r._2)), "a hit escaped the metadata filter")
    // exact filtered ground truth via the codegen kernel (the q64 shape
    // with the same predicate on the candidate side)
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    val exact = e.filter(col("label") % 4 === 1)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        round(expr("graft_dot(v, qv)") / (col("norm") * col("qn")), 6).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = rows.toSet.intersect(exact).size.toDouble / exact.size
    // measured 1.0 at sf0.001 AND sf0.01: the 32-deep shortlist drawn
    // from the ~30% filtered candidate set blankets the true top-10
    assert(recall >= 0.95, s"filtered-ANN recall@10 degraded to $recall")
  }

  test("GraftExtensions injects both native functions into a fresh session") {
    import org.apache.spark.sql.SparkSession
    val orig = spark
    // spark.sql.extensions is a static conf read from the SparkContext,
    // which already exists in this JVM — withExtensions passes the same
    // hook object directly, exercising the identical injection path a
    // cluster's --conf spark.sql.extensions=graft.functions.GraftExtensions
    // would run at session build
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      assert(s2 ne orig)
      val d = s2.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d)) AS d")
        .head().getDouble(0)
      assert(d == 11.0)
      val tk = s2.sql(
        "SELECT graft_top_k(x, 2) AS t FROM (SELECT explode(array(5,1,4,2,3)) AS x)")
        .head().getSeq[Int](0)
      assert(tk == Seq(1, 2))
    } finally {
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
    }
  }

  // --- round 13: ANN auto-dispatch boundary ---------------------------

  test("annTopk dispatch boundary: size thresholds select brute/sq8/ivf; arms match their anchors") {
    val d = sf("sf0.001")
    def withThresholds[A](bruteMax: String, sq8Max: String)(body: => A): A = {
      val saved = Seq(Similarity.BruteMaxKey, Similarity.Sq8MaxKey)
        .map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set(Similarity.BruteMaxKey, bruteMax)
        spark.conf.set(Similarity.Sq8MaxKey, sq8Max)
        body
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    val big = Long.MaxValue.toString
    // the boundary itself: each threshold placement selects its arm
    assert(withThresholds(big, big)(Similarity.annArm(spark, d)) == "brute")
    assert(withThresholds("-1", big)(Similarity.annArm(spark, d)) == "sq8")
    assert(withThresholds("-1", "-1")(Similarity.annArm(spark, d)) == "ivf")
    // defaults: the graded corpora are tiny → the exact arm
    assert(Similarity.annArm(spark, d) == "brute",
      "sf0.001 embeddings must dispatch to the exact arm under default thresholds")
    // each dispatched frame IS its anchor query's frame (row-identical)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(withThresholds(big, big)(rows(Similarity.annTopk(spark, d)))
      == rows(Similarity.bruteTopk(spark, d)))
    assert(withThresholds("-1", big)(rows(Similarity.annTopk(spark, d)))
      == rows(Similarity.sq8Topk(spark, d)))
    assert(withThresholds("-1", "-1")(rows(Similarity.annTopk(spark, d)))
      == rows(Similarity.ivfTopk(spark, d)))
    spark.catalog.clearCache()
  }

  test("pqAssign's min(struct) argmin: total (no dropped groups), lowest-c tiebreak") {
    // Pin for the r17 ADVICE note: min(struct(dist, c)) equals the old
    // rank-1 window ONLY while dist is non-null/non-NaN (min skips
    // nulls; NaN sorts differently). dist is a sum of decimal products
    // over non-null x — a domain with no NaN — and this test makes the
    // assumption CHECKABLE: a synthetic codebook with EXACT ties and
    // an isolated far codeword must yield one row per (vec, m) with
    // the lowest-c winner, and the served pq_index snapshot relies on
    // the same winner rule (its resolve() formatVersion was NOT bumped
    // for the r17 rewrite precisely because the winner is identical).
    import spark.implicits._
    // subspace m=0, dims pos 0..1; codewords c=0 and c=1 EQUIDISTANT
    // from vec 100; c=2 far away. vec 101 sits exactly on c=2.
    val el = Seq(
      (100L, 0, 0, 1.0), (100L, 0, 1, 0.0),
      (101L, 0, 0, 9.0), (101L, 0, 1, 9.0)
    ).toDF("vec_id", "m", "pos", "x")
    val cent = Seq(
      (0, 0, 0, 2.0), (0, 1, 0, 0.0),   // dist to vec100 = 1
      (0, 0, 1, 0.0), (0, 1, 1, 0.0),   // dist to vec100 = 1 (tie)
      (0, 0, 2, 9.0), (0, 1, 2, 9.0)    // far; exact for vec101
    ).toDF("m", "pos", "c", "cx")
    val got = Similarity.pqAssign(el, cent)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(got == Map((100L, 0) -> 0, (101L, 0) -> 2),
      s"argmin must keep every (vec, m) group and break exact ties to the lowest c: $got")
  }
}
