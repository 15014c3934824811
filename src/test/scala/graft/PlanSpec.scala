package graft

/** Plan-shape pins for the scale-critical properties (SURVEY.md §4):
  * filters and projections must reach the parquet scan, provably-small
  * dimensions must broadcast, and the single-pass feature matrix must
  * scan the fact exactly once. These are the properties that decide
  * whether a plan survives a 100× scale-up, so they are asserted, not
  * assumed.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001")).queryExecution.executedPlan.toString

  test("SQL entry surface optimizes to the DataFrame twin's plan (q188 ≡ q27)") {
    val viaSql = SparkEntry.queries("q188_sql_entry")(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan
    val viaApi = SparkEntry.queries("q27_coalesce_leftjoin")(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan
    assert(viaSql.sameResult(viaApi),
      s"SQL twin diverged from the DataFrame plan:\nSQL:\n$viaSql\nAPI:\n$viaApi")
  }

  test("SQL snowflake twin optimizes to the DataFrame plan incl. broadcasts (q197 ≡ q06)") {
    val viaSql = SparkEntry.queries("q197_sql_snowflake")(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan
    val viaApi = SparkEntry.queries("q06_snowflake_join")(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan
    assert(viaSql.sameResult(viaApi),
      s"SQL snowflake twin diverged from the DataFrame plan:\nSQL:\n$viaSql\nAPI:\n$viaApi")
    val phys = SparkEntry.queries("q197_sql_snowflake")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(phys).size == 2,
      s"both dimension joins must broadcast:\n$phys")
  }

  test("SQL pivot twin optimizes to the DataFrame plan (q198 ≡ q16)") {
    val viaSql = SparkEntry.queries("q198_sql_pivot")(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan
    val viaApi = SparkEntry.queries("q16_pivot")(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan
    assert(viaSql.sameResult(viaApi),
      s"SQL pivot twin diverged from the DataFrame plan:\nSQL:\n$viaSql\nAPI:\n$viaApi")
  }

  test("SQL window twin gets the native bounded top-k, not a window sort (q200 ≡ q10)") {
    // TopKRewrite is plan-shape-sensitive; the SQL ROW_NUMBER()=1
    // spelling must reach the same map-side bounded aggregate as the
    // DataFrame build — a Window here means the rule missed the SQL
    // form and every group of the fact would be fully sorted. The rule
    // rides GraftExtensions (the harness-session config), so assert on
    // the extended session, like TopKRewriteSpec.
    val ext = SparkSpec.extSession
    val p = SparkEntry.queries("q200_sql_window")(ext, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"expected partial+final ObjectHashAggregate on the SQL form:\n$p")
    assert(!p.contains(" Window "), s"SQL top-1 fell back to a window sort:\n$p")
    val viaSql = SparkEntry.queries("q200_sql_window")(ext, sf("sf0.001"))
      .queryExecution.optimizedPlan
    val viaApi = SparkEntry.queries("q10_latest_order_per_customer")(ext, sf("sf0.001"))
      .queryExecution.optimizedPlan
    assert(viaSql.sameResult(viaApi),
      s"SQL window twin diverged from the DataFrame plan:\nSQL:\n$viaSql\nAPI:\n$viaApi")
  }

  test("SQL ANN twin gets the native bounded top-k and the DataFrame plan (q203 ≡ q64)") {
    // the similarity verb issued as client SQL (graft_dot + the
    // ROW_NUMBER() <= 10 spelling) must reach the same plan as the
    // DataFrame build: TopKRewrite fires (no Window sort over the
    // 8-query × corpus score stream) and the optimized plans coincide
    val ext = SparkSpec.extSession
    val p = SparkEntry.queries("q203_sql_ann_topk")(ext, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"expected partial+final ObjectHashAggregate on the SQL ANN form:\n$p")
    assert(!p.contains(" Window "), s"SQL top-10 fell back to a window sort:\n$p")
    val viaSql = SparkEntry.queries("q203_sql_ann_topk")(ext, sf("sf0.001"))
      .queryExecution.optimizedPlan
    val viaApi = SparkEntry.queries("q64_native_topk")(ext, sf("sf0.001"))
      .queryExecution.optimizedPlan
    assert(viaSql.sameResult(viaApi),
      s"SQL ANN twin diverged from the DataFrame plan:\nSQL:\n$viaSql\nAPI:\n$viaApi")
  }

  test("image near-dup candidates meet only inside band buckets, never all-pairs (q202)") {
    val p = plan("q202_image_neardup_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banded image pairs must never form an unbucketed pair join:\n$p")
    // the hash frame is cached: the codec pipeline (encode->exchange->
    // decode) must materialize once, not once per self-join side
    assert(p.contains("InMemoryTableScan"),
      s"q202 must read the cached hash frame, not re-run the codec per side:\n$p")
  }

  test("incremental image near-dup probes the published index, delta-only codec (q206)") {
    val p = plan("q206_incremental_image_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental band probe must never form an unbucketed pair join:\n$p")
    // the standing side must come from the PUBLISHED IndexStore
    // artifact (a parquet scan of the frozen hash table), never an
    // in-query codec run over the standing 90% — delta-linearity is
    // the point of the incremental twin
    assert(p.contains("img_dhash_index"),
      s"q206 must read the published standing-hash index:\n$p")
    // the delta hash frame is cached (bands + final hash lookup)
    assert(p.contains("InMemoryTableScan"),
      s"q206 must read the cached delta hash frame:\n$p")
  }

  test("audio near-dup candidates meet only inside band buckets, never all-pairs (q205)") {
    val p = plan("q205_audio_neardup_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banded audio pairs must never form an unbucketed pair join:\n$p")
    // the fingerprint frame is cached: the codec pipeline (encode->
    // exchange->decode) must materialize once, not once per self-join side
    assert(p.contains("InMemoryTableScan"),
      s"q205 must read the cached fingerprint frame, not re-run the codec per side:\n$p")
  }

  test("IVF-PQ serve prunes by cell equi-join and broadcasts the ADC tables (q199)") {
    val p = plan("q199_ivfpq_serve")
    // candidates come from the posting-list equi-join on cell id and
    // the ADC scan is restricted to them — never a corpus-pair join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ivf-pq serve must never form an unkeyed pair join:\n$p")
    // the per-query ADC lookup tables (queries x PqM x PqK rows), the
    // codebook/centroid matrices, AND the candidate shortlist all
    // broadcast at this (test) corpus size: the serve path must be
    // free of corpus-wide JOIN exchanges, or the shuffled cand⋈codes
    // join eats the pruning's saving (measured at sf10: 9.90 s vs
    // q196's unpruned 8.65 s before the broadcast). The cand
    // broadcast is size-GATED in ivfPqServe (cand grows linearly with
    // the corpus under the fixed 5-cell test config — the rerank's
    // norm joins carry explicit hints, so this pin is structural, not
    // autoBroadcastJoinThreshold-dependent); past the gate the plan
    // legitimately falls back to a shuffled cand join
    assert(p.contains("BroadcastHashJoin"),
      s"ADC tables/codebook must broadcast into the code scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"every join in the ivf-pq serve path must broadcast its small side:\n$p")
  }

  test("exact dup-cover candidates are hash-bucketed, never all-pairs (q189)") {
    val p = plan("q189_exact_dup_cover")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"exact-cover recurrence must never form doc pairs:\n$p")
    assert(p.contains("LeftSemi"),
      s"recurrence probe must be a semi join on the gram hash:\n$p")
    assert(!p.contains("Expand"), s"no Expand in the exact-cover plan:\n$p")
  }

  test("time/flag filters are pushed to the parquet scan (q02)") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"shipdate filter not pushed:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"), s"returnflag filter not pushed:\n$p")
  }

  test("column pruning reaches the scan (q02 reads 4 columns, not 16)") {
    val p = plan("q02_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    val cols = "l_\\w+".r.findAllIn(readSchema.split("ReadSchema").last).toSet
    assert(cols == Set("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate", "l_returnflag"),
      s"scan reads wrong columns: $cols")
  }

  test("snowflake dimensions broadcast (q06)") {
    val p = plan("q06_snowflake_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"small dims must not sort-merge:\n$p")
  }

  test("membership filter is a semi join, not a collected list (q03)") {
    val p = plan("q03_semi_join")
    assert(p.contains("LeftSemi"), s"expected left-semi join:\n$p")
  }

  test("feature matrix scans the fact exactly once (q54 single-pass)") {
    val p = plan("q54_product_features")
    val factScans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem"))
    assert(factScans == 1, s"fact must be scanned once, found $factScans:\n$p")
  }

  test("feature matrix has no Expand (q54 two-level agg, single distinct)") {
    // two countDistinct groups in one aggregate would plan an Expand
    // that triples every fact row before the shuffle; the (part, order)
    // pre-aggregation leaves one distinct and no Expand
    val p = plan("q54_product_features")
    assert(!p.contains("Expand"), s"q54 regressed to a multi-distinct Expand:\n$p")
  }

  test("q05 aggregates the fact to per-order rows BEFORE the header join, on one shuffle") {
    val p = plan("q05_order_revenue")
    // exact two-level distinct: no Expand, and a single hash
    // partitioning (on l_orderkey) feeds BOTH aggregation levels — the
    // (l_orderkey, l_partkey) level only needs same-order co-location
    assert(!p.contains("Expand"), s"q05 regressed to a multi-distinct Expand:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"both agg levels must reuse ONE fact shuffle on l_orderkey, found $hashEx:\n$p")
    // the header join consumes |orders|-sized aggregated rows, so the
    // fact is scanned exactly once and never flows through the join raw
    val factScans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem"))
    assert(factScans == 1, s"fact must be scanned once, found $factScans:\n$p")
  }

  test("as-of interval assignment broadcasts the dimension (q08)") {
    val p = plan("q08_asof_interval")
    assert(p.contains("Broadcast"), s"expected broadcast in as-of join:\n$p")
  }

  test("top-k by aggregate is distributed TakeOrderedAndProject, not a global window (q17)") {
    val p = plan("q17_topk_parts")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k + driver merge (TakeOrderedAndProject):\n$p")
    // the rank window must consume the 15-row limit output, never the
    // unbounded per-part aggregate: the plan would then hold a Window
    // directly over the aggregate with no preceding TakeOrdered
    val winIdx = p.indexOf("Window")
    val topIdx = p.indexOf("TakeOrderedAndProject")
    assert(winIdx >= 0 && winIdx < topIdx,
      s"rank window must sit above (consume) the TakeOrdered output:\n$p")
  }

  test("keyset pagination pushes the cursor to the scan and takes ordered (q75)") {
    val p = plan("q75_keyset_pagination")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
    assert(p.contains("PushedFilters: [Or(GreaterThan(o_orderdate"),
      s"cursor predicate must reach the parquet scan:\n$p")
  }

  test("JSON extraction parses once via from_json, never per-field re-parse (q39)") {
    val p = plan("q39_json_extract")
    assert(!p.contains("get_json_object"),
      s"per-field get_json_object re-parses the payload for every field:\n$p")
    assert(p.contains("from_json"), s"expected typed from_json parse:\n$p")
  }

  test("minhash signature build is map-only: two exchanges total (q46)") {
    // repartition after the single-split scan, then ONE stage to band
    // rows (min() is duplicate-idempotent so there is no shingle
    // distinct, and the 16-way min agg reuses the repartition's
    // distribution), then the output sort. A regression to shingle
    // DISTINCT or to the exploded per-(doc, j) form adds keyed
    // exchanges on the full shingle set.
    val p = plan("q46_minhash_bands")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"q46 grew extra shuffles ($exchanges):\n$p")
  }

  test("q137's salt is in the JOIN KEY, not a post-join predicate") {
    // the q103 lesson generalized: a salt (or band) that appears only
    // as a filter still meets every pair in the shuffle — the hot key
    // only actually spreads if (key, salt) IS the join key
    val p = plan("q137_skew_routed_join")
    assert(
      p.linesIterator.exists(l =>
        l.contains("Join") && l.contains("user_id") && l.contains("graft_salt")),
      s"salted join must key on (user_id, graft_salt):\n$p")
  }

  test("native top-k broadcasts the query vectors (q64)") {
    val p = operators.Similarity.nativeTopk(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
  }

  test("connected components output plan is bounded regardless of rounds (q84)") {
    // each propagation round localCheckpoints, truncating lineage — a
    // regression to cache() grows the final plan by a join + agg per
    // round (and the driver's analysis time with it)
    val p = plan("q84_dup_clusters")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 4, s"q84 final plan must not carry per-round lineage ($exchanges):\n$p")
    assert(!p.contains("FileScan"),
      s"q84 output must read checkpointed labels, not re-derive from source:\n$p")
  }

  test("native top-k aggregates map-side, no window shuffle (q92)") {
    val p = plan("q92_topk_native")
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
    assert(!p.contains("Window"), s"q92 must not fall back to a window sort:\n$p")
  }

  test("decontamination broadcasts the eval shingle set (q91)") {
    val p = plan("q91_decontamination")
    assert(p.contains("BroadcastHashJoin"), s"eval side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"train side must stream, never sort-merge against eval:\n$p")
  }

  test("approx column profile folds sketches without an Expand (q114 production shape)") {
    // q106's exact multi-distinct costs a ×6 row amplification; the
    // sketch-only profile is the declared 100 TB path and must keep
    // the single unamplified scan. The REGISTERED q114 is the
    // bounded-error certificate (it deliberately adds the exact arms,
    // and with them the Expand); the production surface it certifies
    // is approxProfileSketch, pinned here.
    val p = graft.operators.Warehouse.approxProfileSketch(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Expand"), s"approx profile must not Expand:\n$p")
    val scans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem"))
    assert(scans == 1, s"approx profile must scan lineitem once, found $scans:\n$p")
  }

  test("fuzzy near-dup joins on (first_char, length_band), not first_char alone (q103)") {
    // the length band must be part of the JOIN KEY — as a join-side
    // predicate every same-letter pair would still meet at the join
    // (O(V²/26) comparisons per letter before filtering). At sf0.001
    // the tiny vocab broadcasts; what must hold at any size is that
    // the equi-join keys are (blk, band), so rows only meet within
    // their ±1 length band.
    val p = plan("q103_fuzzy_neardup")
    val joinLine = p.linesIterator.find(_.contains("Join"))
    assert(joinLine.exists(l => l.contains("blk") && l.contains("band")),
      s"join keys must be (blk, band):\n$p")
  }

  /** The global-window waivers (q07/q31/q94): a single-partition
    * Window is only acceptable over a provably tiny frame, so the
    * window's subtree must pass through a row-shrinking operator
    * (aggregate or limit) BEFORE reaching any file scan. A future edit that slides a
    * fact-sized frame under one of these windows fails here.
    */
  private def assertGlobalWindowPostShrink(name: String): Unit = {
    val p = plan(name)
    val lines = p.linesIterator.toVector
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0, s"$name: expected a Window node:\n$p")
    val below = lines.drop(winIdx + 1)
    val shrinkIdx = below.indexWhere(l =>
      l.contains("Aggregate") || l.contains("Limit") || l.contains("TakeOrderedAndProject"))
    val scanIdx = below.indexWhere(_.contains("FileScan"))
    assert(shrinkIdx >= 0 && (scanIdx < 0 || shrinkIdx < scanIdx),
      s"$name: single-partition window consumes an unaggregated scan:\n$p")
  }

  test("global running total never collapses the fact to one partition (q116)") {
    val p = plan("q116_global_running_total")
    val lines = p.linesIterator.toVector
    // every SinglePartition exchange must consume post-aggregation data
    // (the per-partition offsets), never the fact or its cache
    lines.zipWithIndex.filter(_._1.contains("SinglePartition")).foreach { case (_, i) =>
      val below = lines.drop(i + 1)
      val shrink = below.indexWhere(l => l.contains("Aggregate") || l.contains("Limit"))
      val scan = below.indexWhere(l =>
        l.contains("FileScan") || l.contains("InMemoryTableScan") || l.contains("InMemoryRelation"))
      assert(shrink >= 0 && (scan < 0 || shrink < scan),
        s"SinglePartition exchange consumes unaggregated data:\n$p")
    }
    // the per-row prefix sum stays distributed: windowed by partition id
    assert(p.contains("hashpartitioning(__pid"),
      s"expected the within-partition window to hash on __pid:\n$p")
  }

  test("shard assignment never collapses the corpus to one partition (q182 — the q116 cumsum shape)") {
    val p = plan("q182_shard_assign")
    val lines = p.linesIterator.toVector
    // the only SinglePartition exchange may consume the per-partition
    // count frame (post-aggregation), never the doc-sized corpus
    lines.zipWithIndex.filter(_._1.contains("SinglePartition")).foreach { case (_, i) =>
      val below = lines.drop(i + 1)
      val shrink = below.indexWhere(l => l.contains("Aggregate") || l.contains("Limit"))
      val scan = below.indexWhere(l =>
        l.contains("FileScan") || l.contains("InMemoryTableScan") || l.contains("InMemoryRelation"))
      assert(shrink >= 0 && (scan < 0 || shrink < scan),
        s"SinglePartition exchange consumes unaggregated data:\n$p")
    }
    assert(p.contains("hashpartitioning(__pid"),
      s"expected the within-partition rank window to hash on __pid:\n$p")
  }

  test("mixture sampling broadcasts the derived rate dim, keeps the keep-decision windowless (q117)") {
    val p = plan("q117_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), s"rate dim must broadcast:\n$p")
    assert(!p.contains("WindowExec"), s"the keep decision is a projection, never a window:\n$p")
    // the only single-partition exchange is the 1-row normalizer aggregate
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("SinglePartition")).foreach { case (_, i) =>
      val below = lines.drop(i + 1)
      val shrink = below.indexWhere(_.contains("Aggregate"))
      val scan = below.indexWhere(_.contains("FileScan"))
      assert(shrink >= 0 && (scan < 0 || shrink < scan),
        s"SinglePartition exchange consumes unaggregated data:\n$p")
    }
  }

  test("group trend is one scan, one keyed aggregate, no window (q124)") {
    val p = plan("q124_group_trend")
    val scans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("orders"))
    assert(scans == 1, s"all five moments must come from ONE scan, found $scans:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Expand"),
      s"closed-form slope needs no window or expand:\n$p")
  }

  test("interval-dim surrogate window sits above aggregation (q07)") {
    assertGlobalWindowPostShrink("q07_interval_dim")
  }

  test("calendar-dim surrogate window sits above aggregation (q31)") {
    assertGlobalWindowPostShrink("q31_calendar_dim")
  }

  test("vocab-rank window sits above the top-k limit (q94)") {
    assertGlobalWindowPostShrink("q94_vocab_build")
  }

  test("DYNAMIC partition pruning: a dim filter prunes fact partitions at runtime") {
    // the join-time complement of the static pin below: when the
    // pruning predicate lives on a DIMENSION (no literal on the fact),
    // Spark must inject a dynamicpruning subquery into the fact scan's
    // PartitionFilters so only the dim-selected year directories are
    // read — at 100 TB this is the difference between scanning one
    // year and scanning the decade
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").resolve("fact").toString
    Tables.orders(spark, sf("sf0.001"))
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = Tables.orders(spark, sf("sf0.001"))
      .select(year(col("o_orderdate")).as("o_year"), col("o_orderpriority").as("tag"))
      .distinct()
    val joined = fact.join(dim.filter(col("tag") === "1-URGENT"), Seq("o_year"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"the dim filter must inject a dynamic pruning subquery into the fact scan:\n$p")
    assert(joined.count() > 0)
  }

  test("partition pruning: a partition-key predicate reaches the scan as a PartitionFilter") {
    // the EtlJob fact is written partitionBy(year); at 100 TB the year
    // predicate must prune DIRECTORIES at planning, never surface as a
    // post-scan data filter over every file
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").resolve("fact").toString
    Tables.orders(spark, sf("sf0.001"))
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1995)
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("o_year"),
      s"year predicate must be a partition filter:\n$p")
    assert(!p.contains("PushedFilters: [IsNotNull(o_year)"),
      s"partition key must not degrade to a parquet data filter:\n$p")
    val years = Tables.orders(spark, sf("sf0.001"))
      .select(year(col("o_orderdate"))).distinct().count()
    assert(years > 1, "fixture must have multiple partitions to prune")
    val expected = Tables.orders(spark, sf("sf0.001"))
      .filter(year(col("o_orderdate")) === 1995).count()
    assert(pruned.count() == expected && expected > 0)
  }

  test("star join: one scan per fact, no cartesian, cyclic filter stays a filter (q136)") {
    // the c_nationkey = s_nationkey equality closes the join CYCLE; a
    // bad plan turns it into a nested-loop join or re-scans a fact
    val p = plan("q136_regional_supply")
    assert(p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem")) == 1,
      s"lineitem must scan once:\n$p")
    assert(p.linesIterator.count(l => l.contains("FileScan") && l.contains("orders")) == 1,
      s"orders must scan once:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the cyclic nation equality must never become a nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"the year range must reach the orders scan:\n$p")
  }

  test("leakage-safe split broadcasts the cluster dim over ONE corpus scan (q134)") {
    // the cluster table is near-dup-sized (its lineage ends at the CC
    // localCheckpoint, so it shows as a materialized leaf): the final
    // assignment must be one documents scan + a broadcast left join —
    // never a shuffle of the corpus against a tiny dimension
    val p = plan("q134_leakage_safe_split")
    assert(p.contains("BroadcastHashJoin"), s"cluster dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus shuffle for a tiny dim:\n$p")
    assert(p.linesIterator.count(l => l.contains("FileScan") && l.contains("documents")) == 1,
      s"assignment must scan the corpus once:\n$p")
  }

  test("survivor selection broadcasts the cluster dim; window shuffles only cluster members (q138)") {
    // same scale contract as q134: the cluster table is near-dup-sized,
    // so quality scoring is one corpus scan + broadcast inner join; the
    // survivor window runs AFTER that join, so its exchange carries only
    // clustered docs, never the corpus
    val p = plan("q138_cluster_survivor")
    assert(p.contains("BroadcastHashJoin"), s"cluster dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus shuffle against a tiny dim:\n$p")
    assert(p.linesIterator.count(l => l.contains("FileScan") && l.contains("documents")) == 1,
      s"quality scoring must scan the corpus once:\n$p")
  }

  test("SQ8 rerank joins broadcast the shortlist; nothing degenerates to a nested loop (q139)") {
    // the element frames are cached (InMemoryRelation), so scan counts
    // are not meaningful here; what must hold is the join strategy —
    // the 8-query code table and the 256-pair shortlist broadcast, and
    // no stage falls back to a cartesian/nested-loop shape
    val p = plan("q139_sq8_topk")
    assert(p.contains("BroadcastHashJoin"), s"query codes and shortlist must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no candidate stage may be a nested loop:\n$p")
  }

  test("PQ candidate stage is a broadcast table-lookup join, never a nested loop (q191)") {
    // ADC's whole point: the per-query dot tables (queries × PqM×PqK
    // rows) and the codebook broadcast; candidates meet them through
    // (m, c) / (m, pos) hash joins — no stage may degenerate to a
    // cartesian/nested-loop shape, and the codes relation is the only
    // corpus-sized input to the scoring join
    val p = plan("q191_pq_topk")
    assert(p.contains("BroadcastHashJoin"), s"codebook/ADC tables must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no PQ stage may be a nested loop:\n$p")
  }

  test("filtered ANN pre-filters via a broadcast semi-join on the code scan (q192)") {
    val p = plan("q192_filtered_ann")
    assert(p.contains("LeftSemi"), s"the metadata filter must be a semi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no candidate stage may be a nested loop:\n$p")
  }

  test("CMS cell build is bounded-state: no Expand, broadcast estimate join, 3 exchanges (q132)") {
    // the sketch's whole point is state bounded at depth×width whatever
    // the key cardinality: the depth explode must stay map-side (no
    // Expand node, partial agg collapses each task to ≤1024 cells
    // before the exchange), the 1024-row cell table must broadcast to
    // the top-k probe, and nothing may collapse to one partition
    val p = plan("q132_heavy_hitters_cms")
    assert(!p.contains("Expand"), s"depth fan-out must be an explode projection:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"cell table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge for a 1024-row side:\n$p")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused") && !l.contains("Broadcast"))
    assert(exchanges <= 3, s"expected <=3 data exchanges, found $exchanges:\n$p")
  }

  test("winnowing spans: docs never meet docs — broadcast recurrence probe, no Expand, windows doc-keyed (q141)") {
    // the whole scale story is that candidate discovery is ONE hash
    // aggregate on the anchor fingerprint plus a broadcast semi-probe
    // back — never a doc×doc join — and every window runs under a
    // doc_id partitioning (no unpartitioned window over the corpus)
    val p = plan("q141_dup_spans")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"recurrence probe must be a broadcast left-semi:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"docs must never meet docs:\n$p")
    assert(!p.contains("Expand"), s"no Expand in the gram fan-out:\n$p")
    assert(!p.linesIterator.exists(l => l.contains("Window") && l.contains("partitionBy=[]")),
      s"every window must be doc-keyed:\n$p")
  }

  test("span removal joins stay key-local: no cartesian or nested-loop anywhere (q142)") {
    val p = plan("q142_span_removal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"segment/doc joins must stay equi-joins:\n$p")
    assert(!p.linesIterator.exists(l => l.contains("Window") && l.contains("partitionBy=[]")),
      s"every window must be doc-keyed:\n$p")
  }

  test("bigram quality: one-row vocab broadcasts, no single-partition exchange (q143)") {
    // the Laplace V denominator must arrive as a broadcast one-row
    // frame, never by collapsing the stats pipeline to one partition
    val p = plan("q143_bigram_quality")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"vocab scalar must broadcast:\n$p")
    // exactly the one-row vocab count may collapse to a single
    // partition (the AQE-scalar cost class); the scoring path must not
    val single = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(single <= 1, s"only the vocab scalar may be single-partition, found $single:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("bigram quality shuffles carry fixed-width hash keys, never bigram strings (q143)") {
    // at 100 TB the model/scoring shuffles are vocabulary-sized: every
    // exchange and join key must be the 8-byte md5 h60 of the bigram
    // (bh) or prefix (h1), not the raw phrase — the q141 recipe
    val p = plan("q143_bigram_quality")
    val stringKeyed = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && (l.contains("bg#") || l.contains("w1#")))
    assert(stringKeyed.isEmpty,
      s"bigram strings crossed an exchange:\n${stringKeyed.mkString("\n")}\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("bh#")),
      s"the model build must shuffle on the hashed bigram key:\n$p")
  }

  test("KMV distinct sketch: bounded state, no distinct shuffle, no Expand (q146)") {
    // the whole point of q146 is HLL's cost class with a hash gate:
    // the only key-wide shuffle may carry (flag, kind, cell) partial
    // minima — never the raw key domain, and never a multi-distinct
    // Expand
    val p = plan("q146_kmv_distinct")
    assert(!p.contains("Expand"), s"q146 must not plan a multi-distinct Expand:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("l_orderkey#") || l.contains("l_partkey#"))),
      s"raw key domains must never cross an exchange:\n$p")
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashEx <= 2, s"cell minima + per-flag medians need at most 2 keyed shuffles, found $hashEx:\n$p")
  }

  test("sample quantiles push the md5 stratum filter below the aggregate (q147)") {
    val p = plan("q147_sample_quantiles")
    // the sample predicate must run scan-side (before any exchange), so
    // only ~10% of rows ever shuffle — a Filter above the scan, none
    // above an Exchange
    val lines = p.linesIterator.toVector
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val filterIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("md5"))
    assert(filterIdx >= 0, s"stratum filter missing:\n$p")
    assert(firstExchange == -1 || filterIdx > firstExchange,
      s"stratum filter must sit below (after in explain order) the first exchange:\n$p")
  }

  test("graph module: every join is keyed — no cartesian product anywhere (q149-q152, q167, q168)") {
    // the co-purchase edge build, the attention layers, the PageRank
    // iterations, the wedge enumeration, and the in-cell pairwise scan
    // are all equi-joins; a CartesianProduct (or a non-broadcast
    // nested loop) in any of them is the O(n²) plan these operators
    // exist to avoid
    Seq("q149_gat_embedding", "q150_pagerank", "q151_triangle_count", "q152_semdedup",
      "q167_incremental_triangles", "q168_sampled_triangles")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product:\n$p")
        spark.catalog.clearCache()
      }
  }

  test("bm25 broadcasts the query-term dim and the corpus scalars (q153)") {
    val p = plan("q153_bm25")
    // posting-list probe: tf ⋈ qt must broadcast the 8-term dim, and
    // the (N, SL) scalar arrives as a broadcast, never a shuffle of tf
    assert(p.contains("BroadcastHashJoin"), s"query-term join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus scalars must broadcast:\n$p")
    // exactly one unpartitioned window is declared (the vocabulary
    // df-ranking, Zipf-bounded); the top-5 window partitions by token
    val single = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(single <= 1, s"only the vocab ranking may single-partition:\n$p")
    spark.catalog.clearCache()
  }

  test("q159 serving plan: ONE fact scan (the delta) — the base graph comes from the index") {
    val d = sf("sf0.001")
    // build the index first so the pin sees the SERVING plan, not the
    // one-time build (the memoized basePrIndex makes the distinction
    // real: every later execution is delivery-only)
    operators.Graph.basePrIndex(spark, d)
    val p = SparkEntry.queries("q159_incremental_pagerank")(spark, d)
      .queryExecution.executedPlan.toString
    // the cached delta subtree prints once per reference pre-execution,
    // so COUNTING FileScan lines over-reports; the property that
    // matters is that every lineitem access in the serving plan is the
    // SAME delta-projected scan — i.e. no second access pattern (a
    // full unfiltered scan for the node universe would show up as a
    // distinct FileScan line)
    val scans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("lineitem"))
      .map(l => l.substring(l.indexOf("FileScan")).replaceAll("#\\d+L?", "#x"))
      .toSet
    assert(scans.size == 1,
      s"every lineitem access must be the one delta scan, found ${scans.size}:\n${scans.mkString("\n")}")
    val readSchema = scans.head.split("ReadSchema").last
    val cols = "l_\\w+".r.findAllIn(readSchema).toSet
    assert(cols == Set("l_orderkey", "l_partkey"),
      s"the delta scan must read only (orderkey, partkey): $cols")
    assert(!p.contains("CartesianProduct"), s"q159 plans a cartesian product:\n$p")
    spark.catalog.clearCache()
  }

  test("basket rules: cached basket frame, broadcast-only stat joins, distributed top-k (q161)") {
    // pin the SERVING computation directly: the declared q161 wraps it
    // in a sizing window whose eager final checkpoint hides the plan
    val p = operators.Analytics.basketRules(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    // every consumer of the basket frame (self-join both sides, item
    // counts ×2, order-count scalar) must read the ONE cached build
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) == 5,
      s"expected 5 cached reads of the basket frame:\n$p")
    // item counts and the n_orders scalar ride broadcasts onto the
    // pair aggregate — at 100 TB the pair frame never re-shuffles for
    // dimension-sized statistics
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 3,
      s"expected 3 broadcast stat joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no stat join may sort-merge:\n$p")
    // top-50 by lift is TakeOrderedAndProject (per-partition heads +
    // driver merge), never a global sort of the full rule set
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be distributed:\n$p")
    assert(!p.contains("CartesianProduct"), s"q161 plans a cartesian product:\n$p")
    spark.catalog.clearCache()
  }

  test("q162 serving plan: ONE fact scan (the delivery) — base stats come from the index") {
    val d = sf("sf0.001")
    // build the index first so the pin sees the SERVING plan (the
    // memoized basketIndex makes every later execution delivery-only)
    operators.Analytics.basketIndex(spark, d)
    val p = SparkEntry.queries("q162_incremental_basket_rules")(spark, d)
      .queryExecution.executedPlan.toString
    // same discipline as the q159 pin: the cached delta subtree may
    // print per reference, but every lineitem access must be the SAME
    // delta-projected scan — a full-corpus rescan would surface as a
    // second distinct FileScan pattern
    val scans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("lineitem"))
      .map(l => l.substring(l.indexOf("FileScan")).replaceAll("#\\d+L?", "#x"))
      .toSet
    assert(scans.size == 1,
      s"every lineitem access must be the one delivery scan, found ${scans.size}:\n${scans.mkString("\n")}")
    val cols = "l_\\w+".r.findAllIn(scans.head.split("ReadSchema").last).toSet
    assert(cols == Set("l_orderkey", "l_partkey"),
      s"the delivery scan must read only (orderkey, partkey): $cols")
    assert(!p.contains("CartesianProduct"), s"q162 plans a cartesian product:\n$p")
    spark.catalog.clearCache()
  }

  test("q165 serving plan: ONE fact scan (the delivery) — the model comes from the snapshot") {
    val d = sf("sf0.001")
    // train + commit the model first so the pin sees the SERVING plan
    // (the memoized clusterModel makes every later execution
    // delivery-only: frozen stats + frozen centroids read from parquet)
    operators.MLOps.clusterModel(spark, d)
    val p = SparkEntry.queries("q165_incremental_cluster_assign")(spark, d)
      .queryExecution.executedPlan.toString
    // q159/q162 discipline: every lineitem access must be the SAME
    // delta-projected scan — a standing-corpus rescan (or a retrain)
    // would surface as a second distinct FileScan pattern
    val scans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("lineitem"))
      .map(l => l.substring(l.indexOf("FileScan")).replaceAll("#\\d+L?", "#x"))
      .toSet
    assert(scans.size == 1,
      s"every lineitem access must be the one delivery scan, found ${scans.size}:\n${scans.mkString("\n")}")
    val cols = "l_\\w+".r.findAllIn(scans.head.split("ReadSchema").last).toSet
    assert(cols == Set("l_orderkey", "l_partkey", "l_extendedprice",
      "l_discount", "l_quantity"),
      s"the delivery scan must read only the five feature columns: $cols")
    assert(!p.contains("CartesianProduct"), s"q165 plans a cartesian product:\n$p")
    spark.catalog.clearCache()
  }

  test("q172 serving plan: ONE fact scan (the delta) — base labels come from the index") {
    val d = sf("sf0.001")
    // build the index first so the pin sees the SERVING plan (the
    // memoized baseCcIndex makes every later execution delivery-only)
    operators.Graph.baseCcIndex(spark, d)
    val p = SparkEntry.queries("q172_incremental_components")(spark, d)
      .queryExecution.executedPlan.toString
    // q159/q162/q165 discipline: every lineitem access must be the
    // SAME delta-projected scan — a corpus relabel (or a full node-
    // universe rescan) would surface as a second FileScan pattern
    val scans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("lineitem"))
      .map(l => l.substring(l.indexOf("FileScan")).replaceAll("#\\d+L?", "#x"))
      .toSet
    assert(scans.size == 1,
      s"every lineitem access must be the one delta scan, found ${scans.size}:\n${scans.mkString("\n")}")
    val cols = "l_\\w+".r.findAllIn(scans.head.split("ReadSchema").last).toSet
    assert(cols == Set("l_orderkey", "l_partkey"),
      s"the delta scan must read only (orderkey, partkey): $cols")
    assert(!p.contains("CartesianProduct"), s"q172 plans a cartesian product:\n$p")
    spark.catalog.clearCache()
  }

  test("q181 serving plan: ONE fact scan (the delivery) — model and centroids come from the snapshot") {
    val d = sf("sf0.001")
    // train + commit first so the pin sees the SERVING plan (the q165
    // discipline: the memoized clusterModel makes later executions
    // delivery-only)
    operators.MLOps.clusterModel(spark, d)
    val p = SparkEntry.queries("q181_centroid_drift")(spark, d)
      .queryExecution.executedPlan.toString
    val scans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("lineitem"))
      .map(l => l.substring(l.indexOf("FileScan")).replaceAll("#\\d+L?", "#x"))
      .toSet
    assert(scans.size == 1,
      s"every lineitem access must be the one delivery scan, found ${scans.size}:\n${scans.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), s"q181 plans a cartesian product:\n$p")
    spark.catalog.clearCache()
  }

  test("q180 serving plan: rates broadcast onto the delta; no corpus-sized single partition") {
    val d = sf("sf0.001")
    operators.Text.mixIndex(spark, d)
    val p = SparkEntry.queries("q180_mix_rebalance")(spark, d)
      .queryExecution.executedPlan.toString
    // the accept-rate dim (language-count rows) must ride a broadcast
    // onto the delivery's toss filter — the DELTA-sized side never
    // shuffles for a histogram-sized dim. (The final rates⟕kept join
    // is histogram×histogram — a sort-merge there is size-bounded at
    // any corpus scale and allowed, the q175 full-outer idiom.)
    assert(p.contains("BroadcastHashJoin"), s"rate dim must broadcast onto the delta:\n$p")
    val smjIdx = p.linesIterator.toVector.indexWhere(_.contains("SortMergeJoin"))
    if (smjIdx >= 0) {
      // any sort-merge must consume aggregated (histogram-sized) inputs:
      // an Aggregate or the cached histogram (InMemoryTableScan)
      // appears below it before any raw file scan
      val below = p.linesIterator.toVector.drop(smjIdx + 1)
      val agg = below.indexWhere(l =>
        l.contains("Aggregate") || l.contains("InMemoryTableScan"))
      val scan = below.indexWhere(_.contains("FileScan"))
      assert(agg >= 0 && (scan < 0 || agg < scan),
        s"sort-merge join consumes unaggregated (corpus-sized) data:\n$p")
    }
    assert(!p.contains("CartesianProduct"), s"q180 plans a cartesian product:\n$p")
    spark.catalog.clearCache()
  }

  test("SUITE-WIDE: no query mixes exact multi-distinct and sketch aggregates in one Aggregate (q114/q71 class)") {
    // Two exact DISTINCT groups in one aggregate force Spark's Expand
    // rewrite (~n_groups× row amplification); a sketch aggregate
    // (HLL++, percentile, any TypedImperativeAggregate) caught in the
    // same Aggregate is dragged through that amplification under a
    // non-codegen ObjectHashAggregate — measured 90 s vs 1.6 s on q114
    // (round 11) and 5.3 s vs 0.8 s on q71 (round 12). The recipe is
    // two single-purpose scans joined on the group keys; this pin
    // fails AT TEST TIME any registered query that regresses into the
    // mixed shape, instead of a bench DNF finding it rounds later.
    // Detection is on the ANALYZED plan (pre-rewrite), so the distinct
    // groups are still visible as isDistinct aggregate expressions.
    // KNOWN SCOPE LIMIT: only the RETURNED frame's plan is inspected —
    // aggregates a query builder executes eagerly behind a
    // localCheckpoint/snapshot boundary surface here as opaque
    // LogicalRDD/relation leaves, so index-build internals (the
    // IndexStore-published Prebuild artifacts) are outside this sweep.
    // Those paths are covered operationally instead: every index build
    // runs in the bench prebuild phase and in Verify, where the 90 s
    // pathology would DNF immediately rather than hide.
    val d = sf("sf0.001")
    // detector self-check: the round-11 q71 shape (2 HLL + 2 exact
    // distincts in ONE agg) must be flagged, and its split-arm fix not
    import org.apache.spark.sql.functions.{approx_count_distinct, countDistinct, col}
    val fact = spark.read.parquet(s"$d/lineitem.parquet")
    val mixedShape = fact.groupBy(col("l_returnflag")).agg(
      approx_count_distinct(col("l_orderkey"), 0.02),
      approx_count_distinct(col("l_partkey"), 0.02),
      countDistinct(col("l_orderkey")),
      countDistinct(col("l_partkey")))
    assert(hasMixedDistinctSketchAgg(mixedShape),
      "detector must flag the round-11 q71 shape")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val mixed = hasMixedDistinctSketchAgg(fn(spark, d))
      spark.catalog.clearCache()
      if (mixed) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"mixed exact-multi-distinct + sketch in one Aggregate (split into two scans " +
        s"joined on the group keys — see q114/q71): ${offenders.mkString(", ")}")
  }

  /** True iff any Aggregate in the frame's analyzed plan holds BOTH
    * more than one exact-DISTINCT group (→ the Expand rewrite) and a
    * sketch/object aggregate (HLL++, percentile, any
    * TypedImperativeAggregate) — the q114/q71 pathology.
    */
  private def hasMixedDistinctSketchAgg(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, HyperLogLogPlusPlus, ApproximatePercentile, TypedImperativeAggregate}
    df.queryExecution.analyzed.collect { case a: Aggregate =>
      val aggs = a.aggregateExpressions.flatMap(_.collect {
        case ae: AggregateExpression => ae })
      val distinctGroups = aggs.filter(_.isDistinct)
        .map(_.aggregateFunction.children.map(_.canonicalized).toSet).distinct
      val hasSketch = aggs.exists { ae =>
        ae.aggregateFunction.isInstanceOf[HyperLogLogPlusPlus] ||
        ae.aggregateFunction.isInstanceOf[ApproximatePercentile] ||
        ae.aggregateFunction.isInstanceOf[TypedImperativeAggregate[_]]
      }
      distinctGroups.size > 1 && hasSketch
    }.exists(identity)
  }

  test("ANN shortlist ranks are bounded aggregates, never a window sort (q139/q191)") {
    // The shortlist rank windows partition by query_id (8 queries), so
    // a WindowExec here means the FULL query×candidate score stream is
    // range-shuffled into 8 partitions and sorted — fine at sf0.1,
    // silently serialized at 10⁷+ candidates (r17 VERDICT item 8).
    // TopKRewrite must keep turning these into partial+final bounded
    // top-k aggregates under the harness session (GraftExtensions);
    // this pin makes any future shape drift (a projection between the
    // window and its filter, a changed rank expression) fail HERE
    // instead of surfacing as a stealth scale cliff in an sf10 sweep.
    val ext = SparkSpec.extSession
    for (q <- Seq("q139_sq8_topk", "q191_pq_topk")) {
      val p = SparkEntry.queries(q)(ext, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(!p.contains(" Window "),
        s"$q shortlist rank fell back to a window sort over the candidate stream:\n$p")
      assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
        s"$q expected partial+final bounded top-k aggregates:\n$p")
    }
  }
}
