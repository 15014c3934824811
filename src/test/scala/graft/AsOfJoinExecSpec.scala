package graft

import graft.operators.AsOf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The custom physical as-of join: plan shape (AsOfJoinExec, one
  * exchange + sort per side), agreement with the composed sort-merge
  * formulation on real and generated data (including empty right sides,
  * equal timestamps, and keys present on only one side), and the
  * self-join disambiguation path.
  */
class AsOfJoinExecSpec extends SparkSpec {

  private lazy val ext: SparkSession = SparkSpec.extSession

  private def q38Shape(s: SparkSession, via: String): Seq[(Long, Long, Option[Long])] = {
    val ev = Tables.events(s, sf("sf0.001"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_event_id"))
    val joined = via match {
      case "exec" =>
        graft.plans.AsOfJoin.frame(
          purchases, clicks, "ts", "click_ts", Seq("user_id"), Seq("click_event_id", "click_ts"))
      case "composed" =>
        AsOf.backward(
          purchases, clicks, "ts", "click_ts", Seq("user_id"), Seq("click_event_id", "click_ts"))
    }
    joined
      .select(col("user_id"), col("event_id"), col("click_event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq.sorted
  }

  test("AsOfJoinExec plans with one exchange and one sort per side") {
    val ev = Tables.events(ext, sf("sf0.001"))
    val l = ev.filter(col("event_type") === "purchase").select(col("user_id"), col("ts"))
    val r = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("ceid"))
    val df = graft.plans.AsOfJoin.frame(l, r, "ts", "cts", Seq("user_id"), Seq("ceid"))
    val p = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the "Exec" suffix in plan strings
    assert(p.contains("AsOfJoin "), s"expected the custom exec:\n$p")
    assert(p.linesIterator.count(l0 => l0.contains("Exchange") && !l0.contains("Reused")) == 2,
      s"expected exactly one exchange per side:\n$p")
    assert(p.linesIterator.count(_.contains("Sort ")) == 2,
      s"expected exactly one sort per side:\n$p")
  }

  test("nearest exec plans ONE merge pass: no second scan, no directional self-join") {
    // the composed AsOf.nearest runs backward + forward passes and
    // joins them; the exec arm's reason to exist is doing it in the
    // same single co-partitioned merge as backward — same plan shape
    val ev = Tables.events(ext, sf("sf0.001"))
    val l = ev.filter(col("event_type") === "purchase").select(col("user_id"), col("ts"))
    val r = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("ceid"))
    val df = graft.plans.AsOfJoin.frame(
      l, r, "ts", "cts", Seq("user_id"), Seq("ceid"), graft.plans.AsOfJoin.Nearest)
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("AsOfJoin ")) == 1, s"one exec node:\n$p")
    assert(p.linesIterator.count(l0 => l0.contains("Exchange") && !l0.contains("Reused")) == 2,
      s"expected exactly one exchange per side:\n$p")
    assert(p.linesIterator.count(_.contains("Sort ")) == 2,
      s"expected exactly one sort per side:\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin") && !p.contains("Union"),
      s"nearest-via-exec must not fall back to the composed machinery:\n$p")
  }

  test("exec agrees with the composed sort-merge formulation on q38's shape (self-join)") {
    assert(q38Shape(ext, "exec") == q38Shape(ext, "composed"))
  }

  private def forAllSamples[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  test("exec agrees with the composed formulation on generated keyed series") {
    val gen = for {
      lefts <- Gen.listOfN(120, Gen.zip(Gen.choose(0, 5), Gen.choose(0L, 100L)))
      rights <- Gen.listOfN(80, Gen.zip(Gen.choose(0, 7), Gen.choose(0L, 100L)))
    } yield (lefts, rights)
    forAllSamples(gen, n = 8) { case (lefts, rights) =>
      import ext.implicits._
      val l = lefts.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "lid").repartition(5)
      // distinct (k, t) on the right: at equal key+time the "latest" row
      // is otherwise ambiguous, and both formulations may pick either
      val r = rights.distinct.groupBy(x => (x._1, x._2)).map(_._2.head).toSeq.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong + 1000) }
        .toDF("k", "rt", "rid").repartition(3)
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select(col("k"), col("t"), col("lid"), col("rid"))
        .collect()
        .map(x => (x.getInt(0), x.getLong(1), x.getLong(2),
          if (x.isNullAt(3)) -1L else x.getLong(3)))
        .toSeq.sorted
      val viaExec = canon(graft.plans.AsOfJoin.frame(l, r, "t", "rt", Seq("k"), Seq("rid")))
      val viaComposed = canon(AsOf.backward(l, r, "t", "rt", Seq("k"), Seq("rid")))
      assert(viaExec == viaComposed)
    }
  }

  test("exec agrees with the composed formulation on composite and nullable keys") {
    val gen = for {
      lefts <- Gen.listOfN(100, Gen.zip(
        Gen.option(Gen.choose(0, 2)), Gen.choose(0, 2), Gen.choose(0L, 60L)))
      rights <- Gen.listOfN(60, Gen.zip(
        Gen.option(Gen.choose(0, 2)), Gen.choose(0, 2), Gen.choose(0L, 60L)))
    } yield (lefts, rights)
    forAllSamples(gen, n = 6) { case (lefts, rights) =>
      import ext.implicits._
      val l = lefts.zipWithIndex
        .map { case ((k1, k2, t), i) => (k1, k2, t, i.toLong) }
        .toDF("k1", "k2", "t", "lid").repartition(4)
      val r = rights.distinct.groupBy(x => (x._1, x._2, x._3)).map(_._2.head).toSeq.zipWithIndex
        .map { case ((k1, k2, t), i) => (k1, k2, t, i.toLong + 1000) }
        .toDF("k1", "k2", "rt", "rid").repartition(3)
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select(col("lid"), col("rid"))
        .collect()
        .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
        .toSeq.sorted
      val viaExec = canon(
        graft.plans.AsOfJoin.frame(l, r, "t", "rt", Seq("k1", "k2"), Seq("rid")))
      val viaComposed = canon(
        AsOf.backward(l, r, "t", "rt", Seq("k1", "k2"), Seq("rid")))
      assert(viaExec == viaComposed)
    }
  }

  private def directionShape(via: String): Seq[(Long, Long, Option[Long])] = {
    val ev = Tables.events(ext, sf("sf0.001"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_event_id"))
    val joined = via match {
      case "exec-forward" =>
        graft.plans.AsOfJoin.frame(purchases, clicks, "ts", "click_ts",
          Seq("user_id"), Seq("click_event_id", "click_ts"), graft.plans.AsOfJoin.Forward)
      case "composed-forward" =>
        AsOf.forward(purchases, clicks, "ts", "click_ts",
          Seq("user_id"), Seq("click_event_id", "click_ts"))
      case "exec-nearest" =>
        graft.plans.AsOfJoin.frame(purchases, clicks, "ts", "click_ts",
          Seq("user_id"), Seq("click_event_id", "click_ts"), graft.plans.AsOfJoin.Nearest)
      case "composed-nearest" =>
        AsOf.nearest(purchases, clicks, "ts", "click_ts",
          by = Seq("user_id"), leftKey = Seq("event_id"), Seq("click_event_id", "click_ts"))
    }
    joined
      .select(col("user_id"), col("event_id"), col("click_event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq.sorted
  }

  test("exec forward arm agrees with the composed formulation on q120's shape") {
    assert(directionShape("exec-forward") == directionShape("composed-forward"))
  }

  test("exec nearest arm agrees with the composed formulation on q121's shape") {
    assert(directionShape("exec-nearest") == directionShape("composed-nearest"))
  }

  test("forward/nearest arms agree with composed on generated series incl. duplicate timestamps") {
    // rights deliberately NOT deduplicated: duplicate (k, t) groups pin
    // the max-payload tiebreak the exec's payload-extended right sort
    // and the composed __payload window key both implement
    val gen = for {
      lefts <- Gen.listOfN(120, Gen.zip(Gen.choose(0, 5), Gen.choose(0L, 40L)))
      rights <- Gen.listOfN(80, Gen.zip(Gen.choose(0, 7), Gen.choose(0L, 40L)))
    } yield (lefts, rights)
    forAllSamples(gen, n = 6) { case (lefts, rights) =>
      import ext.implicits._
      val l = lefts.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "lid").repartition(5)
      val r = rights.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong + 1000) }
        .toDF("k", "rt", "rid").repartition(3)
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select(col("lid"), col("rid"))
        .collect()
        .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
        .toSeq.sorted
      val fExec = canon(graft.plans.AsOfJoin.frame(
        l, r, "t", "rt", Seq("k"), Seq("rt", "rid"), graft.plans.AsOfJoin.Forward))
      val fComposed = canon(AsOf.forward(l, r, "t", "rt", Seq("k"), Seq("rt", "rid")))
      assert(fExec == fComposed, "forward arm diverged")
      val nExec = canon(graft.plans.AsOfJoin.frame(
        l, r, "t", "rt", Seq("k"), Seq("rt", "rid"), graft.plans.AsOfJoin.Nearest))
      val nComposed = canon(AsOf.nearest(
        l, r, "t", "rt", by = Seq("k"), leftKey = Seq("lid"), Seq("rt", "rid")))
      assert(nExec == nComposed, "nearest arm diverged")
      val bExec = canon(graft.plans.AsOfJoin.frame(
        l, r, "t", "rt", Seq("k"), Seq("rt", "rid")))
      val bComposed = canon(AsOf.backward(l, r, "t", "rt", Seq("k"), Seq("rt", "rid")))
      assert(bExec == bComposed, "backward arm diverged under duplicate timestamps")
    }
  }

  test("frame() refuses mixed time axes for EVERY direction, not just nearest") {
    import ext.implicits._
    val l = Seq((1, java.sql.Date.valueOf("2024-01-02"), 1L)).toDF("k", "t", "lid")
    val r = Seq((1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 9L))
      .toDF("k", "rt", "rid")
    // a Date-vs-Timestamp mix would not error in the exec — it would
    // read the wrong bytes and silently mis-join; the builder refuses
    for (dir <- Seq(graft.plans.AsOfJoin.Backward, graft.plans.AsOfJoin.Forward,
        graft.plans.AsOfJoin.Nearest)) {
      val e = intercept[IllegalArgumentException] {
        graft.plans.AsOfJoin.frame(l, r, "t", "rt", Seq("k"), Seq("rid"), dir)
      }
      assert(e.getMessage.contains("time axis"), s"$dir: ${e.getMessage}")
    }
    val eKey = intercept[IllegalArgumentException] {
      graft.plans.AsOfJoin.frame(
        Seq((1L, 10L, 1L)).toDF("k", "t", "lid"),
        Seq((1, 5L, 9L)).toDF("k", "rt", "rid"),
        "t", "rt", Seq("k"), Seq("rid"))
    }
    assert(eKey.getMessage.contains("key 'k' type mismatch"), eKey.getMessage)
  }

  test("AsOf.auto falls back to the composed arm on mixed time axes") {
    import ext.implicits._
    val l = Seq((1, java.sql.Date.valueOf("2024-01-02"), 1L)).toDF("k", "t", "lid")
    val r = (1 to 2000).map(i =>
      (1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), i.toLong))
      .toDF("k", "rt", "rid")
    // threshold -1 forces past the broadcast arm; this would throw in
    // frame() if the dispatcher still chose the exec — composed
    // backward coerces the date axis and answers correctly
    val out = AsOf.dispatch(l, r, "t", "rt", Seq("k"), Seq("rid"), -1L).collect()
    assert(out.length == 1 && out.head.getAs[Long]("rid") == 2000L)
  }

  test("nearest distances compare exactly for long times above 2^53") {
    import ext.implicits._
    // at t ~ 2^60 a double's ulp is 256: both distances below round to
    // 0.0 and a double comparison ties (wrongly going backward); exact
    // long arithmetic sees forward 2 < backward 3
    val t0 = 1L << 60
    val l = Seq((1, t0, 1L)).toDF("k", "t", "lid")
    val r = Seq((1, t0 - 3L, 7L), (1, t0 + 2L, 9L)).toDF("k", "rt", "rid")
    val viaExec = graft.plans.AsOfJoin.frame(
      l, r, "t", "rt", Seq("k"), Seq("rid"), graft.plans.AsOfJoin.Nearest).collect()
    assert(viaExec.length == 1 && viaExec.head.getAs[Long]("rid") == 9L,
      s"exec must pick the closer forward row: ${viaExec.mkString}")
    val viaComposed = AsOf.nearest(
      l, r, "t", "rt", by = Seq("k"), leftKey = Seq("lid"), Seq("rt", "rid")).collect()
    assert(viaComposed.head.getAs[Long]("rid") == 9L, "arms must agree at 2^60")
  }

  test("nearest survives distance overflow on mixed-sign long extremes") {
    import ext.implicits._
    // backward span l - b ~ 1.6e19 overflows a long to negative; a
    // naive long comparison would then prefer the 9-quintillion-away
    // backward row over the forward row 10 ticks ahead
    val l0 = Long.MaxValue / 2
    val l = Seq((1, l0, 1L)).toDF("k", "t", "lid")
    val r = Seq((1, Long.MinValue / 2, 7L), (1, l0 + 10L, 9L)).toDF("k", "rt", "rid")
    val out = graft.plans.AsOfJoin.frame(
      l, r, "t", "rt", Seq("k"), Seq("rid"), graft.plans.AsOfJoin.Nearest).collect()
    assert(out.length == 1 && out.head.getAs[Long]("rid") == 9L,
      s"overflowed distance must not flip the verdict: ${out.mkString}")
  }

  test("AsOf.auto dispatches by right-side size estimate") {
    val ev = Tables.events(ext, sf("sf0.001"))
    val l = ev.filter(col("event_type") === "purchase").select(col("user_id"), col("ts"))
    val r = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("ceid"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    // restore by contains/unset: get() (and getOption) on an unset key
    // render the default ("10485760b"), and setting that back would
    // leave the key explicitly set on the shared session
    val old = Option.when(ext.sessionState.conf.contains(key))(ext.conf.get(key))
    try {
      ext.conf.set(key, "1048576") // sf0.001 clicks fit: broadcast path
      val pSmall = AsOf.auto(l, r, "ts", "cts", Seq("user_id"), Seq("ceid"))
        .queryExecution.executedPlan.toString
      assert(pSmall.contains("Broadcast"), s"small right must broadcast:\n$pSmall")
      ext.conf.set(key, "-1") // broadcast disabled: the custom exec path
      val pBig = AsOf.auto(l, r, "ts", "cts", Seq("user_id"), Seq("ceid"))
        .queryExecution.executedPlan.toString
      assert(pBig.contains("AsOfJoin "), s"large right must take the merge exec:\n$pBig")
    } finally old.fold(ext.conf.unset(key))(ext.conf.set(key, _))
  }

  test("empty right side yields all-null payload") {
    import ext.implicits._
    val l = Seq((1, 10L), (2, 20L)).toDF("k", "t")
    val r = Seq.empty[(Int, Long, Long)].toDF("k", "rt", "rid")
    val got = graft.plans.AsOfJoin.frame(l, r, "t", "rt", Seq("k"), Seq("rid"))
      .collect().map(x => (x.getInt(0), x.isNullAt(2))).toSet
    assert(got == Set((1, true), (2, true)))
  }
}
