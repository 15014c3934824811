package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Graph analytics over the co-purchase graph (parts are nodes; an
  * edge connects two parts that appear in the same order, weighted by
  * the number of co-occurring lineitem pairs). The reference keeps an
  * experimental graph surface — a product graph fed to a GAT graph
  * autoencoder (`/root/reference/src/models/GAT.py:6-67`, dead code
  * with zero call sites) — and this module closes that last SURVEY §2
  * row (M6) with the strongest torch-free public-technique claim
  * available, the same treatment q127/q140 gave the LSTM (M5):
  *
  *  - q149: a deterministic graph-attention autoencoder — two
  *    feature-dependent attention message-passing layers, a 12→4
  *    random-sign latent projection (encoder), its transpose decode,
  *    and BOTH of the reference's dual-reconstruction diagnostics
  *    (feature loss + structure affinity), all in exact integer /
  *    single-IEEE-op arithmetic so the DuckDB oracle hash-matches.
  *  - q150: fixed-point integer PageRank, 5 replayed iterations.
  *  - q151: exact triangle census via degree-ordered orientation (the
  *    Suri–Vassilvitskii shape) — the oracle counts the same triangles
  *    with the naive a<b<c three-way join, pinning plan-independence.
  *
  * Scale shape: the only fact-sized work anywhere in the module is the
  * per-order self-join building the edge list — the pair explode is
  * bounded by order size (≤7 lineitems per TPC-H order), so edges are
  * O(|fact|), shuffled once on orderkey and aggregated on (src, dst).
  * Everything downstream is edge- or node-sized joins and hash
  * aggregates — the Pregel/GraphX decomposition without the RDD layer.
  */
object Graph {

  private val Dec0 = DecimalType(38, 0)

  /** Feature dims (the q127 embedding) and latent dims (GAT.py:56-58
    * compresses to a smaller latent space; 4 matches LearnDim).
    */
  private val D = MLOps.EmbedDim
  private val Lat = 4

  /** ±1 encoder weight for (feature dim d, latent dim k): md5 parity
    * of a fixed string — a COMPILE-TIME constant (same literal in the
    * Spark plan and the oracle SQL), the q127 database-friendly
    * projection with the matrix inlined.
    */
  private def sgn(d: Int, k: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d,${k}gat".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1L else -1L
  }

  /** Co-purchase edge list (src, dst, w): both directions, grouped.
    * The projected 2-column lineitem is cached because it feeds both
    * sides of the self-join (no exchange reuse across a self-join).
    */
  private[graft] def edgesOf(liRaw: DataFrame): DataFrame = {
    val li = liRaw.cache()
    li.select(col("ok"), col("pid").as("src"))
      .join(li.select(col("ok"), col("pid").as("dst")), "ok")
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
  }

  private def buildCoEdges(s: SparkSession, d: String): DataFrame =
    edgesOf(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pid")))

  /** The edge list MATERIALIZED once per DATASET as a published
    * snapshot table shared by the whole graph family (q149/q150/q151/
    * q156/q157) — the production shape: a warehouse derives its
    * co-purchase edge table once, then every graph query scans it,
    * rather than re-running the fact self-join per query. Written
    * hash-distributed on src so reads parallelize; each consumer
    * still owns its partitioning. Lives in [[graft.IndexStore]]
    * (round 13): published once, REUSED across JVMs, staleness keyed
    * on the lineitem fingerprint — at 100 TB an edge derivation is an
    * ETL-tier cost no deployment can pay per process.
    */
  private[graft] def coEdges(s: SparkSession, d: String): DataFrame = {
    val path = graft.IndexStore.resolve(s, "co_edges", 1, d, Seq("lineitem.parquet")) { dirOf =>
      Map("edges" -> Snapshots.commit(
        buildCoEdges(s, d).repartition(col("src")), dirOf("edges"), replace = true))
    }("edges")
    Snapshots.read(s, path)
  }

  private val coEdgesSql: String =
    """ed0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
              CAST(COUNT(*) AS BIGINT) AS w
       FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       WHERE a.l_partkey <> b.l_partkey
       GROUP BY 1, 2)"""

  /** Materialized twin for oracles whose downstream CTE chains
    * reference their rounds multiple times — see [[kcoreSql]].
    */
  private val coEdgesSqlMat: String =
    coEdgesSql.replaceFirst("ed0 AS \\(", "ed0 AS MATERIALIZED (")

  // ---------------------------------------------------------------
  // q149: graph-attention autoencoder (M6 public-technique stand-in)
  // ---------------------------------------------------------------

  /** One attention message-passing layer over `cols` features.
    * Attention score for edge (i→j) is w·(1 + signAgree(xᵢ, xⱼ)) — a
    * feature-DEPENDENT positive integer (the monotone bounded-integer
    * analogue of GATConv's softmax(LeakyReLU(a·[Wxᵢ‖Wxⱼ])),
    * GAT.py:14-22; exp() is not portable across engines, normalized
    * integer scores are). The layer output is the attention-normalized
    * neighbor mean: zᵢ = round(Σⱼ αᵢⱼ xⱼ) with αᵢⱼ = scoreᵢⱼ/Σ score —
    * numerators exact decimal sums, ONE IEEE division, half-up round
    * (the q140 floor(x+0.5) recipe). Self-loops in `ed` play
    * GATConv's add_self_loops role, so isolated nodes reproduce their
    * own features. Also returns `att` = Σ score (the attention mass).
    */
  private[graft] def attLayer(ed: DataFrame, feats: DataFrame, cols: Seq[String]): DataFrame = {
    // sign agreement via a per-node sign BITMASK: the attention scoring
    // joins carry ONE long per endpoint instead of the full feature
    // row, so the two edge-sized score shuffles stay 4 columns narrow;
    // agree = D − popcount(si XOR sj) is integer-identical to the
    // per-dimension sign compare the oracle writes out
    val sigExpr = cols.zipWithIndex
      .map { case (c, i) => when(col(c) >= 0, lit(1L << i)).otherwise(lit(0L)) }
      .reduce(_ + _)
    val sig = feats.select(col("part_id"), sigExpr.as("sig"))
    val scored = ed
      .join(sig.select(col("part_id").as("src"), col("sig").as("si")), "src")
      .join(sig.select(col("part_id").as("dst"), col("sig").as("sj")), "dst")
      .select(
        col("src"), col("dst"),
        (col("w") * (lit(1L + cols.length) - expr("bit_count(si ^ sj)").cast("long")))
          .as("score"))
    // ONE wide join (score ⋈ destination features), already partitioned
    // by dst from the sj join; partial aggregation combines map-side
    // before the final src shuffle
    val fj = feats.select(col("part_id").as("dst") +: cols.map(c => col(c).as(s"j_$c")): _*)
    val aggs = cols.map { c =>
      floor(
        sum((col("score") * col(s"j_$c")).cast(Dec0)).cast("double")
          / sum(col("score")).cast("double") + 0.5)
        .cast(LongType).as(c)
    } :+ sum(col("score")).as("att")
    scored.join(fj, "dst")
      .groupBy(col("src"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("src", "part_id")
  }

  /** SQL twin of [[attLayer]]: emits scored + aggregated CTEs reading
    * edge CTE `ed` and feature CTE `featCte`, producing `outCte`.
    */
  private def attLayerSql(featCte: String, outCte: String, cols: Seq[String]): String = {
    val agree = cols.map(c => s"(CASE WHEN (fi.$c >= 0) = (fj.$c >= 0) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val keep = cols.map(c => s"fj.$c AS $c").mkString(", ")
    val aggs = cols.map(c =>
      s"""CAST(floor(CAST(SUM(score * $c) AS DOUBLE)
             / CAST(SUM(score) AS DOUBLE) + 0.5) AS BIGINT) AS $c""")
      .mkString(",\n           ")
    s"""s_$outCte AS (
         SELECT ed.src, ed.w * (1 + ($agree)) AS score, $keep
         FROM ed
         JOIN $featCte fi ON ed.src = fi.part_id
         JOIN $featCte fj ON ed.dst = fj.part_id),
       $outCte AS (
         SELECT src AS part_id,
           $aggs,
           CAST(SUM(score) AS BIGINT) AS att
         FROM s_$outCte GROUP BY src)"""
  }

  /** M6 stand-in: deterministic graph-attention autoencoder over the
    * co-purchase graph, node features = the q127 sequence embedding
    * (the reference feeds its RNN embeddings as GAT node features,
    * GAT.py:28-30). Two attention layers (GAT.py:15-16 stacks two
    * GATConvs), then encoder latent lₖ = Σ_d sgn(d,k)·z_d (12→4),
    * transpose decode x̂_d = round(Σₖ sgn(d,k)·lₖ / 4), and the dual
    * reconstruction diagnostics of GAT.py:59-67: recon_l1 = Σ_d|x̂−x|
    * (feature loss, L1 to stay exact-integer) and struct_q =
    * round(Σⱼ wᵢⱼ⟨lᵢ,lⱼ⟩ / deg / 2⁴⁰) (the z·zᵀ edge affinity of the
    * structure loss, power-of-two rescaled into integer range).
    * Every aggregate is an exact decimal sum; every division a single
    * IEEE op on deterministically-rounded inputs — hash-gated.
    */
  private[graft] def gatEmbedding(s: SparkSession, d: String): DataFrame = {
    val eCols = (1 to D).map(i => s"e$i")
    val emb = MLOps.sequenceEmbedding(s, d).cache()
    val ed0 = coEdges(s, d).cache()
    val ed = ed0
      .unionByName(emb.select(
        col("part_id").as("src"), col("part_id").as("dst"), lit(1L).as("w")))
      .cache()
    val z1 = attLayer(ed, emb, eCols).localCheckpoint(true)
    val z2 = attLayer(ed, z1.drop("att"), eCols)
    val lats = (1 to Lat).map { k =>
      (1 to D).map(dd => lit(sgn(dd, k)) * col(s"e$dd")).reduce(_ + _).as(s"l$k")
    }
    val lat = z2.select(col("part_id") +: col("att") +: lats: _*).cache()
    val xhats = (1 to D).map { dd =>
      floor(
        (1 to Lat).map(k => lit(sgn(dd, k)) * col(s"l$k")).reduce(_ + _).cast("double")
          / lit(Lat.toDouble) + 0.5)
        .cast(LongType).as(s"xh$dd")
    }
    val recon = lat.join(emb, "part_id")
      .select(col("part_id") +: xhats ++: eCols.map(col): _*)
      .select(
        col("part_id"),
        (1 to D).map(dd => abs(col(s"xh$dd") - col(s"e$dd"))).reduce(_ + _).as("recon_l1"))
    // structure affinity over real (non-self) edges; isolated → 0
    val li = lat.select(col("part_id").as("src") +: (1 to Lat).map(k => col(s"l$k").as(s"i_l$k")): _*)
    val lj = lat.select(col("part_id").as("dst") +: (1 to Lat).map(k => col(s"l$k").as(s"j_l$k")): _*)
    val dot = (1 to Lat).map(k => col(s"i_l$k").cast(Dec0) * col(s"j_l$k")).reduce(_ + _)
    val struct = ed0.join(li, "src").join(lj, "dst")
      .select(col("src"), (col("w") * dot).as("wdot"), col("w"))
      .groupBy(col("src"))
      .agg(
        floor(
          sum(col("wdot")).cast("double") / sum(col("w")).cast("double")
            / lit(1099511627776L).cast("double") + 0.5)
          .cast(LongType).as("sq"))
      .withColumnRenamed("src", "part_id")
    lat.join(recon, "part_id")
      .join(struct, Seq("part_id"), "left")
      .select(
        col("part_id") +: (1 to Lat).map(k => col(s"l$k")) ++:
          Seq(col("att"), col("recon_l1"), coalesce(col("sq"), lit(0L)).as("struct_q")): _*)
      .orderBy(col("part_id"))
  }

  private[graft] val gatEmbeddingSql: String = {
    val eCols = (1 to D).map(i => s"e$i")
    val latSel = (1 to Lat).map { k =>
      (1 to D).map(dd => s"(${sgn(dd, k)}) * e$dd").mkString(" + ") + s" AS l$k"
    }.mkString(",\n               ")
    val xhSel = (1 to D).map { dd =>
      val num = (1 to Lat).map(k => s"(${sgn(dd, k)}) * l$k").mkString(" + ")
      s"CAST(floor(CAST($num AS DOUBLE) / ${Lat}.0 + 0.5) AS BIGINT) AS xh$dd"
    }.mkString(",\n               ")
    val l1 = (1 to D).map(dd => s"abs(r.xh$dd - fe.e$dd)").mkString(" + ")
    val dotE = (1 to Lat).map(k => s"CAST(li.l$k AS HUGEINT) * lj.l$k").mkString(" + ")
    s"""
    WITH ${MLOps.sequenceEmbeddingSql},
    $coEdgesSql,
    ed AS (SELECT src, dst, w FROM ed0
           UNION ALL SELECT part_id, part_id, CAST(1 AS BIGINT) FROM emb),
    ${attLayerSql("emb", "z1", eCols)},
    ${attLayerSql("z1", "z2", eCols)},
    lat AS (SELECT part_id, att,
               $latSel
            FROM z2),
    xh AS (SELECT l.part_id,
               $xhSel
            FROM lat l),
    recon AS (SELECT r.part_id, CAST($l1 AS BIGINT) AS recon_l1
              FROM xh r JOIN emb fe ON r.part_id = fe.part_id),
    st AS (SELECT e.src AS part_id,
             CAST(floor(CAST(SUM(CAST(e.w AS HUGEINT) * ($dotE)) AS DOUBLE)
                  / CAST(SUM(e.w) AS DOUBLE)
                  / CAST(1099511627776 AS DOUBLE) + 0.5) AS BIGINT) AS sq
           FROM ed0 e
           JOIN lat li ON e.src = li.part_id
           JOIN lat lj ON e.dst = lj.part_id
           GROUP BY e.src)
    SELECT l.part_id, ${(1 to Lat).map(k => s"l.l$k").mkString(", ")},
           l.att, r.recon_l1, COALESCE(s.sq, 0) AS struct_q
    FROM lat l
    JOIN recon r ON l.part_id = r.part_id
    LEFT JOIN st s ON l.part_id = s.part_id
    ORDER BY l.part_id"""
  }

  // ---------------------------------------------------------------
  // q150: fixed-point integer PageRank, 5 replayed iterations
  // ---------------------------------------------------------------

  private[graft] val PrIters = 5

  /** Weighted PageRank in exact fixed-point micro-units: pr₀ = 1e6 per
    * node; prₜ₊₁(i) = 150000 + (85·Σⱼ (prₜ(j)·wⱼᵢ) div degⱼ) div 100
    * (damping 0.85 as the rational 85/100; all operands positive, so
    * Spark's truncating `div` and DuckDB's `//` agree). Declared
    * variant: dangling/rounding mass is dropped, not redistributed —
    * ranks are unnormalized (the relative ordering PageRank is used
    * for is unchanged; exactness is what buys the hash gate).
    * Scale shape: each iteration is one edge⋈node join + one hash
    * aggregate on dst — the Pregel step; the node frame is
    * checkpointed per round so the plan stays iteration-deep, not
    * lineage-deep.
    */
  private[graft] def pagerank(s: SparkSession, d: String): DataFrame = {
    val nodes = Tables.lineitem(s, d).select(col("l_partkey").as("part_id")).distinct()
    pagerankOf(nodes, coEdges(s, d))
  }

  /** [[pagerank]]'s core over explicit (part_id) nodes and
    * (src, dst, w) edges — the unit the spec drives on synthetic
    * graphs.
    */
  private[graft] def pagerankOf(nodes: DataFrame, edRaw: DataFrame): DataFrame =
    graft.Parts.sized(edRaw) {
      // pin the edge partitioning on src ONCE: every iteration's
      // contribution join then reuses the cached layout and only the
      // node-sized rank frame moves — the big side never re-shuffles
      val ed = edRaw.repartition(col("src")).cache()
      val deg = ed.groupBy(col("src")).agg(sum(col("w")).as("deg"))
      val init = nodes.join(deg, nodes("part_id") === deg("src"), "left")
        .select(col("part_id"), coalesce(col("deg"), lit(0L)).as("deg"),
          lit(1000000L).as("pr"))
      // eager final checkpoint: the last round's exchanges must execute
      // INSIDE the sizing window (the returned frame otherwise re-plans
      // them lazily under the restored session conf at action time)
      prIterate(init, ed, PrIters).localCheckpoint(true)
    }.orderBy(col("part_id"))

  /** `iters` rounds of the q150 recurrence from an explicit
    * (part_id, deg, pr) frame over already-pinned (src, dst, w)
    * edges (contract: the caller repartitions on src and caches —
    * the big side must never re-shuffle per round). Shared by the
    * cold start (q150) and the warm start (q159).
    *
    * Checkpoint every SECOND round, not every round: each eager
    * localCheckpoint is a driver-sequenced job, and 6 of them in a
    * row made the wall time driver-latency-bound (round-9 bench saw
    * 8× swings). A 2-round lineage (two join+agg layers) is cheap
    * for Catalyst; the cadence halves the sequenced materializations
    * while still keeping the plan iteration-deep, not lineage-deep.
    */
  private[graft] def prIterate(init: DataFrame, ed: DataFrame, iters: Int): DataFrame = {
    var pr = init.localCheckpoint(true)
    // off-round caches are freed once the NEXT eager checkpoint has
    // consumed them — otherwise ~iters/2 node-sized frames pile up in
    // the cache manager per execution until the harness's clearCache
    var prevCached: DataFrame = null
    for (i <- 1 to iters) {
      val contrib = ed.join(pr, ed("src") === pr("part_id"))
        .filter(col("deg") > 0)
        .select(col("dst"), expr("(pr * w) div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inr"))
      pr = pr.select(col("part_id"), col("deg"))
        .join(contrib.withColumnRenamed("dst", "part_id"), Seq("part_id"), "left")
        .select(col("part_id"), col("deg"),
          (lit(150000L) + expr("(85 * coalesce(inr, CAST(0 AS BIGINT))) div 100")).as("pr"))
      // the rank frame is consumed twice next round (contribution join
      // + carry): cache on off-rounds so the lineage doesn't double
      if (i % 2 == 0 && i < iters) {
        pr = pr.localCheckpoint(true)
        if (prevCached != null) { prevCached.unpersist(false); prevCached = null }
      } else {
        pr = pr.cache()
        prevCached = pr
      }
    }
    pr
  }

  /** Per-round CTEs materialized — pr_{i-1} is referenced twice per
    * round (rank carry + contribution subquery); non-materialized,
    * DuckDB inlines the chain 2^rounds times. See [[kcoreSql]].
    */
  private[graft] val pagerankSql: String = {
    val iters = (1 to PrIters).map { i =>
      s"""pr$i AS MATERIALIZED (
         SELECT p.part_id, p.deg,
                CAST(150000 + (85 * COALESCE(c.inr, 0)) // 100 AS BIGINT) AS pr
         FROM pr${i - 1} p
         LEFT JOIN (SELECT e.dst, CAST(SUM((p.pr * e.w) // p.deg) AS BIGINT) AS inr
                    FROM ed0 e JOIN pr${i - 1} p ON e.src = p.part_id
                    WHERE p.deg > 0 GROUP BY e.dst) c
         ON p.part_id = c.dst)"""
    }.mkString(",\n    ")
    s"""
    WITH ${coEdgesSqlMat},
    deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM ed0 GROUP BY src),
    nodes AS (SELECT DISTINCT l_partkey AS part_id FROM lineitem),
    pr0 AS MATERIALIZED (SELECT n.part_id, COALESCE(d.deg, 0) AS deg,
                   CAST(1000000 AS BIGINT) AS pr
            FROM nodes n LEFT JOIN deg d ON n.part_id = d.src),
    $iters
    SELECT part_id, deg, pr FROM pr$PrIters ORDER BY part_id"""
  }

  // ---------------------------------------------------------------
  // q156: personalized PageRank (seeded product recommendations)
  // ---------------------------------------------------------------

  /** "Products related to the flagship products": fixed-point
    * personalized PageRank with the teleport mass restricted to a
    * data-derived seed set — the 8 top-revenue parts (rank by exact
    * integer cents, part_id tiebreak). Same exact integer arithmetic
    * and iteration shape as [[pagerankOf]] (prₜ₊₁ = seed·150000 +
    * (85·inflow) div 100); rank mass can only enter at the seeds, so
    * the stationary ordering is graph proximity to the flagships —
    * the recommendation semantic a product-mix warehouse actually
    * asks of its co-purchase graph. Top-50 via orderBy+limit (the
    * distributed TakeOrderedAndProject path), rank attached after the
    * 50-row shrink.
    */
  private[graft] def personalizedPagerank(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("part_id"))
      .agg(sum(round(col("l_extendedprice") * 100).cast(LongType)).as("rev_cents"))
    val seeds = rev
      .withColumn("rk",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rev_cents").desc, col("part_id"))))
      .filter(col("rk") <= 8)
      .select(col("part_id"))
    pprOf(rev.select(col("part_id")), coEdges(s, d), seeds)
  }

  /** [[personalizedPagerank]]'s core over explicit (part_id) nodes,
    * (src, dst, w) edges and a (part_id) seed set — the unit the spec
    * drives on synthetic graphs with hand-checkable proximity.
    */
  private[graft] def pprOf(parts: DataFrame, edRaw: DataFrame, seedIds: DataFrame): DataFrame =
    graft.Parts.sized(edRaw) {
    val ed = edRaw.repartition(col("src")).cache()
    val deg = ed.groupBy(col("src")).agg(sum(col("w")).as("deg"))
    val seeds = seedIds.select(col("part_id"), lit(1L).as("seed"))
    var pr = parts.select(col("part_id"))
      .join(deg.withColumnRenamed("src", "part_id"), Seq("part_id"), "left")
      .join(seeds, Seq("part_id"), "left")
      .select(
        col("part_id"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("seed"), lit(0L)).as("seed"),
        (coalesce(col("seed"), lit(0L)) * lit(1000000L)).as("pr"))
      .localCheckpoint(true)
    // 2-round checkpoint cadence + off-round cache release — see
    // [[prIterate]].
    var prevCached: DataFrame = null
    for (i <- 1 to PrIters) {
      val contrib = ed.join(pr, ed("src") === pr("part_id"))
        .filter(col("deg") > 0 && col("pr") > 0)
        .select(col("dst"), expr("(pr * w) div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inr"))
      pr = pr.select(col("part_id"), col("deg"), col("seed"))
        .join(contrib.withColumnRenamed("dst", "part_id"), Seq("part_id"), "left")
        .select(col("part_id"), col("deg"), col("seed"),
          (col("seed") * lit(150000L)
            + expr("(85 * coalesce(inr, CAST(0 AS BIGINT))) div 100")).as("pr"))
      if (i % 2 == 0 && i < PrIters) {
        pr = pr.localCheckpoint(true)
        if (prevCached != null) { prevCached.unpersist(false); prevCached = null }
      } else {
        pr = pr.cache()
        prevCached = pr
      }
    }
    // eager final checkpoint — see [[pagerankOf]]'s sizing-window note
    pr.localCheckpoint(true)
    }.filter(col("pr") > 0)
      .orderBy(col("pr").desc, col("part_id"))
      .limit(50)
      .withColumn("rnk",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("pr").desc, col("part_id")))
          .cast(org.apache.spark.sql.types.IntegerType))
      .select(col("rnk"), col("part_id"), col("seed"), col("pr"))
      .orderBy(col("rnk"))

  /** Rounds materialized for the same reason as [[pagerankSql]]. */
  private[graft] val personalizedPagerankSql: String = {
    val iters = (1 to PrIters).map { i =>
      s"""pp$i AS MATERIALIZED (
         SELECT p.part_id, p.deg, p.seed,
                CAST(p.seed * 150000 + (85 * COALESCE(c.inr, 0)) // 100 AS BIGINT) AS pr
         FROM pp${i - 1} p
         LEFT JOIN (SELECT e.dst, CAST(SUM((p.pr * e.w) // p.deg) AS BIGINT) AS inr
                    FROM ed0 e JOIN pp${i - 1} p ON e.src = p.part_id
                    WHERE p.deg > 0 AND p.pr > 0 GROUP BY e.dst) c
         ON p.part_id = c.dst)"""
    }.mkString(",\n    ")
    s"""
    WITH ${coEdgesSqlMat},
    deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM ed0 GROUP BY src),
    rev AS MATERIALIZED (SELECT l_partkey AS part_id,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
            FROM lineitem GROUP BY 1),
    seeds AS (SELECT part_id, CAST(1 AS BIGINT) AS seed FROM (
                SELECT part_id,
                       row_number() OVER (ORDER BY rev_cents DESC, part_id) AS rk
                FROM rev)
              WHERE rk <= 8),
    pp0 AS MATERIALIZED (SELECT r.part_id, COALESCE(d.deg, 0) AS deg,
                   COALESCE(s.seed, 0) AS seed,
                   CAST(COALESCE(s.seed, 0) * 1000000 AS BIGINT) AS pr
            FROM rev r
            LEFT JOIN deg d ON r.part_id = d.src
            LEFT JOIN seeds s ON r.part_id = s.part_id),
    $iters
    SELECT CAST(row_number() OVER (ORDER BY pr DESC, part_id) AS INT) AS rnk,
           part_id, seed, pr
    FROM pp$PrIters
    WHERE pr > 0
    QUALIFY rnk <= 50
    ORDER BY rnk"""
  }

  // ---------------------------------------------------------------
  // q157: k-core peeling (graph-quality filter)
  // ---------------------------------------------------------------

  private[graft] val CoreK = 3
  private[graft] val PeelRounds = 5

  /** Undirected (u < v) co-purchase edge list — shared by the k-core
    * forms and the spec's corpus-level convergence certificate.
    */
  private[graft] def undEdges(s: SparkSession, d: String): DataFrame =
    coEdges(s, d)
      .filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))

  private[graft] def kcore(s: SparkSession, d: String): DataFrame =
    kcoreOf(undEdges(s, d))

  /** [[PeelRounds]] rounds of [[CoreK]]-core peeling over the
    * undirected co-purchase graph: each round drops every node whose
    * degree IN THE SURVIVING subgraph is < k, then restricts the edge
    * set to survivors — the dense-cohesion filter (nodes loosely
    * attached to the catalog fall out; the k-core is what community
    * and spam-graph pipelines keep). A FIXED round count keeps the
    * oracle replayable CTE-for-CTE (declared: the true k-core is the
    * fixpoint; rounds-to-convergence is corpus-dependent, and the
    * per-node round-5 degree output makes "converged?" checkable —
    * GraphSpec pins exact convergence on fixtures). Each round is two
    * degree aggregates + two semi-joins, edge-linear; O(log n) rounds
    * suffice in practice (the q84 large-star/small-star argument).
    */
  private[graft] def kcoreOf(undRaw: DataFrame): DataFrame =
    graft.Parts.sized(undRaw) {
    var und = undRaw.localCheckpoint(true)
    // 2-round checkpoint cadence — see [[pagerankOf]]. The surviving
    // edge frame is consumed THREE times per round (two degree
    // projections + the semi-join left side), so the between-
    // checkpoint rounds still need the frame pinned: cache() marks it
    // for reuse without forcing a driver-sequenced materialization.
    var prevCached: DataFrame = null
    for (i <- 1 to PeelRounds) {
      val deg = und.select(col("u").as("n"))
        .unionByName(und.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("dg"))
      val kept = deg.filter(col("dg") >= CoreK).select(col("n"))
      und = und
        .join(kept.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
        .join(kept.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
      // off-round cache release — see [[prIterate]]
      if (i % 2 == 0 && i < PeelRounds) {
        und = und.localCheckpoint(true)
        if (prevCached != null) { prevCached.unpersist(false); prevCached = null }
      } else {
        und = und.cache()
        prevCached = und
      }
    }
    // eager final checkpoint — see [[pagerankOf]]'s sizing-window note
    und.select(col("u").as("n")).unionByName(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("core_deg"))
      .select(col("n").as("part_id"), col("core_deg"))
      .localCheckpoint(true)
    }.orderBy(col("part_id"))

  /** Every per-round CTE is `AS MATERIALIZED`: each round references
    * the previous round's CTE multiple times (und twice in dg, kp
    * twice in und's semi-filters), and DuckDB 1.0 INLINES
    * non-materialized CTEs — the 5-round chain then evaluates the
    * base subquery exponentially many times and the statement never
    * finishes at sf0.01 (this blanked the round-9 correctness
    * record). Materialized, it runs in well under a second.
    */
  private[graft] val kcoreSql: String = {
    val rounds = (1 to PeelRounds).map { i =>
      s"""dg$i AS MATERIALIZED (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg
             FROM (SELECT u AS n FROM und${i - 1} UNION ALL SELECT v AS n FROM und${i - 1})
             GROUP BY n),
         kp$i AS MATERIALIZED (SELECT n FROM dg$i WHERE dg >= $CoreK),
         und$i AS MATERIALIZED (SELECT e.u, e.v FROM und${i - 1} e
               WHERE e.u IN (SELECT n FROM kp$i) AND e.v IN (SELECT n FROM kp$i))"""
    }.mkString(",\n    ")
    s"""
    WITH ${coEdgesSqlMat},
    und0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM ed0 WHERE src < dst),
    $rounds
    SELECT n AS part_id, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM (SELECT u AS n FROM und$PeelRounds UNION ALL SELECT v AS n FROM und$PeelRounds)
    GROUP BY n ORDER BY n"""
  }

  // ---------------------------------------------------------------
  // q151: exact triangle census, degree-ordered orientation
  // ---------------------------------------------------------------

  /** Exact triangle count + global clustering coefficient. The Spark
    * plan orients every undirected edge from its lower-(degree, id)
    * endpoint to the higher one, enumerates wedges at the orientation
    * source, and semi-joins them against oriented edges — each
    * triangle counted exactly once at its lowest-order vertex, and
    * per-node wedge fan-out bounded by oriented out-degree = O(√m)
    * (the MapReduce triangle-counting bound), which is what survives a
    * hub-heavy graph at 100 TB. The oracle counts the same triangles
    * with the naive a<b<c three-way join — plan-independent equality.
    */
  /** Batch count for the census's wedge stage, derived from the edge
    * relation's Catalyst size stat (no job — the annArm discipline):
    * 1 below 256 MB (the single-pass plan, unchanged at every gated
    * SF), then one extra batch per 256 MB, capped at 16.
    */
  private def triBatchK(edges: DataFrame): Int = {
    val bytes = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    math.min(16, math.max(1, (bytes / (256L << 20)).toInt))
  }

  private[graft] def triangles(s: SparkSession, d: String): DataFrame = {
    val edges = coEdges(s, d)
    val und = edges
      .filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val k = triBatchK(edges)
    if (k <= 1) trianglesOf(und)
    else ccOf(triCensusBatchedRaw(und, k))
  }

  private def ccOf(census: DataFrame): DataFrame =
    census.select(
      col("n_nodes"), col("n_edges"), col("n_triangles"),
      expr("(3 * n_triangles * 1000000) div wdg").as("global_cc_micro"))

  /** [[triangles]]'s core over an explicit undirected (u < v) edge
    * list — the unit the spec drives on synthetic graphs.
    */
  private[graft] def trianglesOf(undRaw: DataFrame): DataFrame =
    ccOf(triCensusRaw(undRaw))

  /** The census with its raw wedge total (`wdg`) still exposed —
    * [[trianglesOf]] folds it into the clustering coefficient; the
    * sampled estimator (q168) needs it separately because the
    * 1/p² wedge and 1/p³ triangle corrections scale differently.
    */
  private[graft] def triCensusRaw(undRaw: DataFrame): DataFrame = {
    val und = undRaw.cache()
    val deg = und.select(col("u").as("n"))
      .unionByName(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
      .cache()
    val wd = und
      .join(deg.select(col("n").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("dg").as("dv")), "v")
    val less = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val or = wd.select(
      when(less, col("u")).otherwise(col("v")).as("a"),
      when(less, col("v")).otherwise(col("u")).as("b"),
      when(less, col("dv")).otherwise(col("du")).as("db"))
      // wedge enumeration self-joins on a: pin that partitioning in
      // the cache so the join runs exchange-free on both sides
      .repartition(col("a"))
      .cache()
    val wedges = or.as("x").join(or.as("y"), col("x.a") === col("y.a"))
      .filter(
        col("x.db") < col("y.db") ||
          (col("x.db") === col("y.db") && col("x.b") < col("y.b")))
      .select(col("x.b").as("p"), col("y.b").as("q"))
    val tri = wedges
      .join(or.select(col("a").as("p"), col("b").as("q")), Seq("p", "q"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val sizes = und.agg(count(lit(1)).as("n_edges"))
    val nn = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("(dg * (dg - 1)) div 2")).as("wdg"))
    nn.crossJoin(sizes).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("wdg"))
  }

  /** K-batched exact census (VERDICT r16 task 5 — retiring the last
    * sf10 DNF): identical orientation/wedge/semi-join plan, but the
    * wedge enumeration is split into K deterministic md5-hash batches
    * of the orientation SOURCE `a`, each batch enumerated, semi-joined
    * against the FULL oriented edge set, and counted in its own Spark
    * job BEFORE the next starts. Every wedge lands in exactly one
    * batch (its source hashes to one bucket), so Σ batch counts ≡ the
    * single-pass count — exact by construction; what changes is the
    * PEAK: the in-flight wedge stream (the census's one superlinear
    * term, the 16+ GB shuffle that DNF'd sf10 at the 300 s cap) is
    * bounded at ~1/K of the single-pass plan, trading one monolithic
    * spill-bound shuffle for K bounded sequential ones. The per-batch
    * counts are driver-side one-row scalars (the Snapshots metadata-
    * collect class — never data rows); `or` is cached once,
    * partitioned by `a`, so every batch's self-join stays
    * exchange-free and the orientation lineage runs once, not K times.
    */
  private[graft] def triCensusBatchedRaw(undRaw: DataFrame, k: Int): DataFrame = {
    val s = undRaw.sparkSession
    val und = undRaw.cache()
    val degrees = und.select(col("u").as("n"))
      .unionByName(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
      .cache()
    val wd = und
      .join(degrees.select(col("n").as("u"), col("dg").as("du")), "u")
      .join(degrees.select(col("n").as("v"), col("dg").as("dv")), "v")
    val less = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val or = wd.select(
      when(less, col("u")).otherwise(col("v")).as("a"),
      when(less, col("v")).otherwise(col("u")).as("b"),
      when(less, col("dv")).otherwise(col("du")).as("db"))
      .repartition(col("a"))
      .cache()
    // the closing-edge relation is the semi-join's build side in EVERY
    // batch: pin it hash-partitioned AND sorted on the join keys in
    // the cache, so each batch's sort-merge semi-join exchanges and
    // sorts ONLY its bounded wedge stream — without this the full
    // m-row edge set re-shuffles and re-sorts K times
    val closing = or.select(col("a").as("p"), col("b").as("q"))
      .repartition(col("p"), col("q"))
      .sortWithinPartitions(col("p"), col("q"))
      .cache()
    val nTriangles = (0 until k).map { i =>
      val orI = or.filter(
        graft.functions.TextFns.h60(col("a").cast("string")) % k === i)
      orI.as("x").join(orI.as("y"), col("x.a") === col("y.a"))
        .filter(
          col("x.db") < col("y.db") ||
            (col("x.db") === col("y.db") && col("x.b") < col("y.b")))
        .select(col("x.b").as("p"), col("y.b").as("q"))
        .join(closing, Seq("p", "q"), "left_semi")
        .count()
    }.sum
    val sizes = und.agg(count(lit(1)).as("n_edges")).head()
    val nw = degrees.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("(dg * (dg - 1)) div 2")).as("wdg")).head()
    closing.unpersist()
    or.unpersist()
    degrees.unpersist()
    und.unpersist()
    import s.implicits._
    Seq((nw.getLong(0), sizes.getLong(0), nTriangles, nw.getLong(1)))
      .toDF("n_nodes", "n_edges", "n_triangles", "wdg")
  }

  private[graft] val trianglesSql: String =
    s"""
    WITH $coEdgesSql,
    und AS (SELECT src AS u, dst AS v FROM ed0 WHERE src < dst),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg
            FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
            GROUP BY n),
    tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM und e1
            JOIN und e2 ON e1.v = e2.u
            JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
    wdg AS (SELECT CAST(SUM((dg * (dg - 1)) // 2) AS BIGINT) AS wdg FROM deg)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
           t.n_triangles,
           CAST((3 * t.n_triangles * 1000000) // NULLIF(w.wdg, 0) AS BIGINT)
             AS global_cc_micro
    FROM tri t CROSS JOIN wdg w"""

  // ---------------------------------------------------------------
  // q168: edge-sampled triangle census (DOULION) — the declared
  // approximate scale path for the O(m^1.5) exact census
  // ---------------------------------------------------------------

  /** Edge-sampling keep probability, percent. p = 1/4 cuts the wedge
    * join (the census's dominant O(m^1.5) term) by p^1.5 = 8× while
    * the estimator variance stays O(1/(p³·T)) — negligible on any
    * graph whose census is worth approximating (T ≫ 64).
    */
  private[graft] val TriSampleP = 25

  /** Approximate triangle census via deterministic edge sampling —
    * Tsourakakis/DOULION: keep each undirected edge iff an md5 toss
    * on its endpoint pair lands below p, run the EXACT degree-ordered
    * kernel on the survivor graph, and scale counts back by 1/p³
    * (each triangle survives with p³) and wedges by 1/p² — unbiased,
    * and every toss replays identically in the oracle, so the gate is
    * full hash parity, not a tolerance band. This is q151's declared
    * scale path: at 100 TB the exact census's wedge join is the one
    * superlinear stage in the library (measured α 0.90); sampling is
    * how a production census survives a hub-heavy co-purchase graph
    * when the exact form breaches the batch budget, with q151 kept as
    * the correctness anchor (the q106-exact/q114-approx pattern).
    * Reference anchor: the co-purchase graph the reference feeds its
    * GAT (/root/reference/src/models/GAT.py:18-25) — census = the
    * structure report a graph ETL tier publishes alongside it.
    */
  private[graft] def sampledTriangles(s: SparkSession, d: String): DataFrame =
    sampledTrianglesOf(coEdges(s, d)
      .filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v")))

  private[graft] def sampledTrianglesOf(undRaw: DataFrame): DataFrame = {
    val p = TriSampleP
    val sampled = undRaw.filter(
      graft.functions.TextFns.h60(
        concat_ws(":", col("u"), col("v"))) % 100 < p)
    // 1/p³ = 64, 1/p² = 16 at p = 1/4; cc widens through DECIMAL(38,0)
    // before the single integer div (3·T/p³ can pass int64 on a 100 TB
    // graph — same overflow class the q166 ARI fix covered)
    triCensusRaw(sampled).select(
      col("n_edges").as("n_edges_sampled"),
      (col("n_edges") * lit(4L)).as("n_edges_est"),
      col("n_triangles").as("n_triangles_sampled"),
      (col("n_triangles") * lit(64L)).as("n_triangles_est"),
      expr("""(CAST(n_triangles AS DECIMAL(38,0)) * 64 * 3 * 1000000)
              div (CAST(wdg AS DECIMAL(38,0)) * 16)""")
        .cast("long").as("global_cc_est_micro"))
  }

  private[graft] val sampledTrianglesSql: String = {
    val toss = graft.functions.TextFns.Sql.h60(
      "CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)")
    // every CTE in this chain is multiply-referenced (`und` ~6×: deg,
    // the 3-way triangle self-join, two scalar COUNT subqueries) —
    // DuckDB inlines non-materialized CTEs, so without MATERIALIZED the
    // heavy ed0 lineitem self-join would re-evaluate per reference
    // (the round-9 q157 hazard class; linear here, but only by luck of
    // one chain level)
    s"""
    WITH $coEdgesSqlMat,
    und0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM ed0 WHERE src < dst),
    und AS MATERIALIZED (SELECT u, v FROM und0 WHERE $toss % 100 < $TriSampleP),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg
            FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
            GROUP BY n),
    tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM und e1
            JOIN und e2 ON e1.v = e2.u
            JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
    wdg AS (SELECT CAST(SUM((dg * (dg - 1)) // 2) AS BIGINT) AS wdg FROM deg)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges_sampled,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM und) * 4 AS n_edges_est,
           t.n_triangles AS n_triangles_sampled,
           t.n_triangles * 64 AS n_triangles_est,
           CAST((CAST(t.n_triangles AS HUGEINT) * 64 * 3 * 1000000)
                // NULLIF(CAST(w.wdg AS HUGEINT) * 16, 0) AS BIGINT)
             AS global_cc_est_micro
    FROM tri t CROSS JOIN wdg w"""
  }

  // ---------------------------------------------------------------
  // q159: delivery-time incremental PageRank (warm start from a
  // pinned snapshot index) — the graph member of the incremental
  // delivery family (q119 dedup / q130 neardup / q144 spans / q155
  // BM25)
  // ---------------------------------------------------------------

  private[graft] val WarmIters = 2

  /** Warm-start core: merge the pinned base ranks into the merged
    * graph's node frame (new nodes cold-start at 1e6; base nodes keep
    * their converged rank) and run [[WarmIters]] rounds of the q150
    * recurrence over the merged edges. Output carries pr_base (0 for
    * delivery-only nodes — a real rank never floors below 150000) so
    * movers are visible. The unit GraphSpec drives with an exact
    * scalar replay.
    */
  private[graft] def warmStart(
      nodes: DataFrame, basePr: DataFrame, edMRaw: DataFrame,
      sizedOn: DataFrame = null): DataFrame =
    // size on the pinned base edge snapshot when the caller has one
    // (accurate file stats); the merged frame's own estimate rides a
    // delta self-join and inflates to the session cap (safe no-op)
    graft.Parts.sized(Option(sizedOn).getOrElse(edMRaw)) {
    val edM = edMRaw.repartition(col("src")).cache()
    val degM = edM.groupBy(col("src")).agg(sum(col("w")).as("deg"))
    val base = basePr.select(col("part_id"), col("pr").as("pr_base"))
    val init = nodes.select(col("part_id"))
      .join(degM.withColumnRenamed("src", "part_id"), Seq("part_id"), "left")
      .join(base, Seq("part_id"), "left")
      .select(
        col("part_id"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("pr_base"), lit(1000000L)).as("pr"))
    // NO eager final checkpoint here (unlike [[pagerankOf]]): the q159
    // PlanSpec pin reads the serving plan's lineitem accesses off the
    // FINAL frame — an eager tail would hide the one-delta-scan
    // property it asserts. Only the last warm round's exchanges run at
    // the session count; WarmIters=2 keeps that tail cheap.
    prIterate(init, edM, WarmIters)
      .join(base, Seq("part_id"), "left")
      .select(
        col("part_id"), col("deg"),
        coalesce(col("pr_base"), lit(0L)).as("pr_base"),
        col("pr").as("pr_warm"))
    }.orderBy(col("part_id"))

  /** The standing base index built ONCE per DATASET (published cross-JVM via [[graft.IndexStore]]) — q155's
    * lifecycle for the graph surface: the 90% md5 bucket of ORDERS is
    * the standing corpus; its edge list and its 5-round converged
    * ranks are committed as two snapshot tables. Serving (the q159
    * query body) reads the PINNED versions — at delivery time only
    * the 10% batch scans the fact; the base graph comes from the
    * persisted index, so a delivery costs one delta edge build + one
    * edge-sized weight merge + [[WarmIters]] edge-linear rounds,
    * never a full-corpus rescan or a cold 5-round rerun.
    */
  private[graft] def basePrIndex(s: SparkSession, d: String): (String, String) = {
    val parts = graft.IndexStore.resolve(s, "pr_index", 1, d, Seq("lineitem.parquet")) {
      dirOf =>
        val bli = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pid"))
          .filter(graft.functions.TextFns.h60(col("l_orderkey").cast("string")) % 100 < 90)
        val edB = edgesOf(bli).repartition(col("src")).cache()
        val degB = edB.groupBy(col("src")).agg(sum(col("w")).as("deg"))
        val nodesB = bli.select(col("pid").as("part_id")).distinct()
        val init = nodesB
          .join(degB.withColumnRenamed("src", "part_id"), Seq("part_id"), "left")
          .select(col("part_id"), coalesce(col("deg"), lit(0L)).as("deg"),
            lit(1000000L).as("pr"))
        val base = prIterate(init, edB, PrIters)
        Map(
          "edges" -> Snapshots.commit(edB, dirOf("edges"), replace = true),
          "pr" -> Snapshots.commit(
            base.select(col("part_id"), col("pr")), dirOf("pr"), replace = true))
    }
    (parts("edges"), parts("pr"))
  }

  private[graft] def incrementalPagerank(s: SparkSession, d: String): DataFrame = {
    val (edDir, prDir) = basePrIndex(s, d)
    // ---- serving side: everything below reads the PINNED index
    val edB = Snapshots.read(s, edDir)
    val basePr = Snapshots.read(s, prDir)
    val dli = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pid"))
      .filter(graft.functions.TextFns.h60(col("l_orderkey").cast("string")) % 100 >= 90)
    val edM = edB.unionByName(edgesOf(dli))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    // node universe = index nodes ∪ delivery nodes — NOT a third
    // full-fact scan: every part in some order is either in the base
    // bucket (hence in the pinned rank table) or in the delivery, so
    // the union is exactly DISTINCT l_partkey, at delta + index cost
    val nodes = basePr.select(col("part_id"))
      .unionByName(dli.select(col("pid").as("part_id")))
      .distinct()
    warmStart(nodes, basePr, edM, sizedOn = edB)
  }

  /** Oracle: replays index build + delivery merge + warm rounds
    * CTE-for-CTE, every iterated CTE materialized (see [[kcoreSql]]).
    */
  private[graft] val incrementalPagerankSql: String = {
    val h = graft.functions.TextFns.Sql.h60("CAST(l_orderkey AS VARCHAR)")
    def prRounds(pfx: String, ed: String, n: Int): String =
      (1 to n).map { i =>
        s"""$pfx$i AS MATERIALIZED (
           SELECT p.part_id, p.deg,
                  CAST(150000 + (85 * COALESCE(c.inr, 0)) // 100 AS BIGINT) AS pr
           FROM $pfx${i - 1} p
           LEFT JOIN (SELECT e.dst, CAST(SUM((p.pr * e.w) // p.deg) AS BIGINT) AS inr
                      FROM $ed e JOIN $pfx${i - 1} p ON e.src = p.part_id
                      WHERE p.deg > 0 GROUP BY e.dst) c
           ON p.part_id = c.dst)"""
      }.mkString(",\n    ")
    s"""
    WITH bli AS MATERIALIZED (
      SELECT l_orderkey AS ok, l_partkey AS pid FROM lineitem
      WHERE ($h % 100) < 90),
    edb AS MATERIALIZED (
      SELECT a.pid AS src, b.pid AS dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM bli a JOIN bli b ON a.ok = b.ok
      WHERE a.pid <> b.pid GROUP BY 1, 2),
    degb AS (SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM edb GROUP BY 1),
    bp0 AS MATERIALIZED (
      SELECT n.part_id, COALESCE(d.deg, 0) AS deg, CAST(1000000 AS BIGINT) AS pr
      FROM (SELECT DISTINCT pid AS part_id FROM bli) n
      LEFT JOIN degb d ON n.part_id = d.src),
    ${prRounds("bp", "edb", PrIters)},
    dli AS MATERIALIZED (
      SELECT l_orderkey AS ok, l_partkey AS pid FROM lineitem
      WHERE ($h % 100) >= 90),
    edd AS MATERIALIZED (
      SELECT a.pid AS src, b.pid AS dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM dli a JOIN dli b ON a.ok = b.ok
      WHERE a.pid <> b.pid GROUP BY 1, 2),
    edm AS MATERIALIZED (
      SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
        SELECT * FROM edb UNION ALL SELECT * FROM edd)
      GROUP BY 1, 2),
    degm AS (SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM edm GROUP BY 1),
    wp0 AS MATERIALIZED (
      SELECT n.part_id, COALESCE(dm.deg, 0) AS deg,
             COALESCE(b.pr, 1000000) AS pr
      FROM (SELECT DISTINCT l_partkey AS part_id FROM lineitem) n
      LEFT JOIN degm dm ON n.part_id = dm.src
      LEFT JOIN bp$PrIters b ON n.part_id = b.part_id),
    ${prRounds("wp", "edm", WarmIters)}
    SELECT w.part_id, w.deg, COALESCE(b.pr, 0) AS pr_base, w.pr AS pr_warm
    FROM wp$WarmIters w
    LEFT JOIN bp$PrIters b ON w.part_id = b.part_id
    ORDER BY w.part_id"""
  }

  // ---------------------------------------------------------------
  // q167: delivery-time incremental triangle census — the census
  // family's delta verb (q159's lifecycle applied to q151). Batch
  // triangle counting is the library's one declared superlinear
  // operator (O(m^1.5)); re-running it per delivery batch is exactly
  // what a 100 TB graph cannot afford. Instead the standing corpus
  // (90% md5 bucket of ORDERS) pays the census ONCE into a pinned
  // index (edge snapshot + base census stats), and a delivery costs
  // only delta-bounded work via the exact inclusion-exclusion
  //   T_merged = T_base + S − A + T3
  // where, with Δ the delta edges NOT already in the base edge set,
  //   S  = Σ_{(u,v)∈Δ} |N_M(u) ∩ N_M(v)|   (M = merged graph; counts
  //        each new triangle once per Δ edge it contains: T1+2T2+3T3),
  //   A  = # wedges of two Δ edges sharing a vertex whose closing
  //        pair is in M (counts T2 + 3·T3),
  //   T3 = triangles entirely inside Δ.
  // Every term is an exact integer join-count; the oracle does NOT
  // replay this algebra — it recounts BOTH censuses with the naive
  // batch three-way join, so the gate proves the incremental identity
  // equals a full recomputation (the q151 plan-independent-equality
  // treatment, which is the strongest statement an incremental verb
  // can make). Scale shape: S streams the delta adjacency against the
  // index-read merged edge list (edge-linear read, delta-bounded
  // output); A and T3 are delta-sized self-joins; nothing re-runs the
  // O(m^1.5) wedge enumeration at delivery time.
  // ---------------------------------------------------------------

  /** Delta-side arithmetic of the incremental census against the
    * PINNED base adjacency-array table (node, nbrs): 1 row
    * (n_edges_delta_new, tri_touched). The serving plan never
    * materializes the merged edge set — merged neighbor arrays are
    * built only for DELTA-TOUCHED nodes (base array ∪ delta array),
    * S is a per-delta-edge `array_intersect` size (zero row
    * amplification — the edge-list formulation fanned out to
    * Σ_Δ deg(u) ≈ 14.7M rows at sf0.1 and its semi-join dominated
    * the serve), A checks wedge closure via `array_contains` on the
    * touched arrays, and T3 is a delta-only three-way join.
    */
  private[graft] def triangleDeltaFromArrays(arrB: DataFrame, undD: DataFrame): DataFrame =
    graft.Parts.sized(arrB) {
    val emptyArr = typedLit(Seq.empty[Long])
    // an edge already in the base adds nothing: membership via the
    // u-side base array (delta-sized join against the node-sized table)
    val deltaNew = undD.select(col("u"), col("v"))
      .join(arrB.select(col("node").as("u"), col("nbrs").as("nbu")), Seq("u"), "left")
      .filter(col("nbu").isNull || !array_contains(col("nbu"), col("v")))
      .select(col("u"), col("v"))
      .cache()
    val adjD = deltaNew.select(col("u").as("node"), col("v").as("nb"))
      .unionByName(deltaNew.select(col("v").as("node"), col("u").as("nb")))
    val arrD = adjD.groupBy(col("node")).agg(collect_set(col("nb")).as("dnbrs"))
    val touched = arrD.join(arrB, Seq("node"), "left")
      .select(col("node"),
        array_union(coalesce(col("nbrs"), emptyArr), col("dnbrs")).as("mnbrs"))
      .cache()
    val sCnt = deltaNew
      .join(touched.select(col("node").as("u"), col("mnbrs").as("nu")), Seq("u"))
      .join(touched.select(col("node").as("v"), col("mnbrs").as("nv")), Seq("v"))
      .select(size(array_intersect(col("nu"), col("nv"))).cast(LongType).as("cn"))
      .agg(sum(col("cn")).as("s_cnt"))
    val aCnt = adjD.as("x").join(adjD.as("y"), col("x.node") === col("y.node"))
      .filter(col("x.nb") < col("y.nb"))
      .select(col("x.nb").as("p"), col("y.nb").as("q"))
      .join(touched.select(col("node").as("p"), col("mnbrs")), Seq("p"))
      .filter(array_contains(col("mnbrs"), col("q")))
      .agg(count(lit(1)).as("a_cnt"))
    val t3 = deltaNew.as("e1")
      .join(deltaNew.as("e2"), col("e2.u") === col("e1.v"))
      .join(deltaNew.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .agg(count(lit(1)).as("t3"))
    deltaNew.agg(count(lit(1)).as("n_edges_delta_new"))
      .crossJoin(sCnt).crossJoin(aCnt).crossJoin(t3)
      .select(
        col("n_edges_delta_new"),
        (coalesce(col("s_cnt"), lit(0L)) - col("a_cnt") + col("t3")).as("tri_touched"))
    }

  /** [[triangleDeltaFromArrays]] from explicit (u < v) edge lists —
    * the unit GraphSpec drives on synthetic hand-checkable graphs.
    */
  private[graft] def triangleDelta(undB: DataFrame, undD: DataFrame): DataFrame =
    triangleDeltaFromArrays(adjacencyArrays(undB), undD)

  private[graft] def adjacencyArrays(und: DataFrame): DataFrame =
    und.select(col("u").as("node"), col("v").as("nb"))
      .unionByName(und.select(col("v").as("node"), col("u").as("nb")))
      .groupBy(col("node")).agg(collect_set(col("nb")).as("nbrs"))

  /** The pinned base index, built ONCE per DATASET (cross-JVM via [[graft.IndexStore]]): the 90%
    * bucket's adjacency-array table and its census stats, committed
    * as two snapshot tables (q159's first-run-pays-index lifecycle).
    * Serving reads the PINNED versions only.
    */
  private[graft] def baseTriIndex(s: SparkSession, d: String): (String, String) = {
    val parts = graft.IndexStore.resolve(s, "tri_index", 1, d, Seq("lineitem.parquet")) {
      dirOf =>
        val bli = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pid"))
          .filter(graft.functions.TextFns.h60(col("l_orderkey").cast("string")) % 100 < 90)
        val undB = edgesOf(bli)
          .filter(col("src") < col("dst"))
          .select(col("src").as("u"), col("dst").as("v"))
          .repartition(col("u"))
          .cache()
        val stats = trianglesOf(undB).select(col("n_edges"), col("n_triangles"))
        Map(
          "adj" -> Snapshots.commit(adjacencyArrays(undB), dirOf("adj"), replace = true),
          "stats" -> Snapshots.commit(stats, dirOf("stats"), replace = true))
    }
    (parts("adj"), parts("stats"))
  }

  private[graft] def incrementalTriangles(s: SparkSession, d: String): DataFrame = {
    val (arDir, stDir) = baseTriIndex(s, d)
    // ---- serving side: everything below reads the PINNED index
    val arrB = Snapshots.read(s, arDir)
    val baseStats = Snapshots.read(s, stDir)
    val dli = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pid"))
      .filter(graft.functions.TextFns.h60(col("l_orderkey").cast("string")) % 100 >= 90)
    val undD = edgesOf(dli)
      .filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    baseStats
      .select(
        col("n_edges").as("n_edges_base"),
        col("n_triangles").as("n_triangles_base"))
      .crossJoin(triangleDeltaFromArrays(arrB, undD))
      .select(
        col("n_edges_base"),
        col("n_edges_delta_new"),
        col("n_triangles_base"),
        col("tri_touched").as("new_triangles"),
        (col("n_triangles_base") + col("tri_touched")).as("n_triangles"))
  }

  /** Oracle: the base and merged censuses recounted from scratch with
    * the naive three-way join (NO incremental algebra — the gate is
    * incremental-equals-batch). Every multiply-referenced CTE
    * materialized (see [[kcoreSql]]).
    */
  private[graft] val incrementalTrianglesSql: String = {
    val h = graft.functions.TextFns.Sql.h60("CAST(l_orderkey AS VARCHAR)")
    s"""
    WITH bli AS MATERIALIZED (
      SELECT l_orderkey AS ok, l_partkey AS pid FROM lineitem
      WHERE ($h % 100) < 90),
    undb AS MATERIALIZED (
      SELECT DISTINCT a.pid AS u, b.pid AS v
      FROM bli a JOIN bli b ON a.ok = b.ok AND a.pid < b.pid),
    dli AS MATERIALIZED (
      SELECT l_orderkey AS ok, l_partkey AS pid FROM lineitem
      WHERE ($h % 100) >= 90),
    deltanew AS MATERIALIZED (
      SELECT DISTINCT a.pid AS u, b.pid AS v
      FROM dli a JOIN dli b ON a.ok = b.ok AND a.pid < b.pid
      EXCEPT
      SELECT u, v FROM undb),
    m AS MATERIALIZED (
      SELECT u, v FROM undb UNION ALL SELECT u, v FROM deltanew),
    trib AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
             FROM undb e1
             JOIN undb e2 ON e1.v = e2.u
             JOIN undb e3 ON e3.u = e1.u AND e3.v = e2.v),
    trim AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
             FROM m e1
             JOIN m e2 ON e1.v = e2.u
             JOIN m e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM undb) AS n_edges_base,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deltanew) AS n_edges_delta_new,
           trib.n AS n_triangles_base,
           trim.n - trib.n AS new_triangles,
           trim.n AS n_triangles
    FROM trib CROSS JOIN trim"""
  }

  // ---------------------------------------------------------------
  // q169: delivery-time incremental k-core — anchored promotion
  // repair against a pinned core index (the LAST graph surface to get
  // a delta verb; q159 = PageRank, q167 = census, q169 = cohesion).
  //
  // Additions-only deltas grow the k-core monotonically (the base
  // core has min-degree ≥ k in a subgraph of the merged graph, so it
  // sits inside the merged core by maximality) — the pinned base core
  // is therefore ANCHORED: never re-peeled, only joined. Everything
  // that can change membership lives in the affected closure A: the
  // connected region of base-NON-core nodes reachable from a delta
  // endpoint through edges whose BOTH endpoints are non-core. Proof
  // sketch (the spec pins the cascade fixture): a non-core node
  // outside A has no delta edge and no neighbor in A, so its merged
  // neighborhood within (core ∪ outside-A non-core) is its base
  // neighborhood — if that set had min-degree ≥ k the base core was
  // not maximal. Delivery therefore peels ONLY A, each node supported
  // by its FIXED count of anchored-core neighbors (cdeg) plus its
  // surviving A-neighbors — the corpus-sized graph is read in three
  // iteration-free linear passes (delta dedup, cdeg, final degrees)
  // while every peel round runs on the tiny A-induced subgraph; the
  // batch form re-scans the full graph 3× per round × 5 rounds.
  //
  // The oracle does NOT replay the repair — it re-peels base AND
  // merged graphs from scratch (q167's incremental-equals-batch
  // treatment). Fixed closure/peel round counts keep it replayable;
  // the q157 convergence certificate (GraphSpec) covers the merged
  // graph — which IS q157's graph, base ∪ delta partitioning all
  // co-purchase edges — and the spec adds the base-bucket twin.
  // ---------------------------------------------------------------

  private[graft] val ClosureRounds = 5

  /** Pinned (edge snapshot, core snapshot) of the 90% standing bucket
    * — first run pays the batch peel, every delivery reads it.
    */
  private[graft] def baseCoreIndex(s: SparkSession, d: String): (String, String) = {
    val parts = graft.IndexStore.resolve(s, "kcore_index", 1, d, Seq("lineitem.parquet")) {
      dirOf =>
        val bli = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pid"))
          .filter(graft.functions.TextFns.h60(col("l_orderkey").cast("string")) % 100 < 90)
        val undB = edgesOf(bli)
          .filter(col("src") < col("dst"))
          .select(col("src").as("u"), col("dst").as("v"))
          .repartition(col("u"))
          .cache()
        val core = kcoreOf(undB)
        Map(
          "edges" -> Snapshots.commit(undB, dirOf("edges"), replace = true),
          "core" -> Snapshots.commit(core, dirOf("core"), replace = true))
    }
    (parts("edges"), parts("core"))
  }

  /** One affected-closure expansion step: `aset` plus its neighbors
    * through `nonCoreEdges` — shared by the fixed-round expansion in
    * [[kcoreDelta]] and its convergence certificate in GraphSpec, so
    * the certificate provably iterates the SAME step it certifies.
    */
  private[graft] def closureStep(nonCoreEdges: DataFrame, aset: DataFrame): DataFrame = {
    val nbrs = nonCoreEdges
      .join(aset.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
      .select(col("v").as("n"))
      .unionByName(nonCoreEdges
        .join(aset.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
        .select(col("u").as("n")))
    aset.unionByName(nbrs).distinct()
  }

  /** The shared q169 input construction: from (base undirected edges,
    * base-core node set, delta undirected edges) derive the four
    * frames the affected-closure machinery runs over — deduped new
    * delta edges, the merged edge set, the non-core cascade channel,
    * and the closure seed. ONE function consumed by both
    * [[kcoreDelta]] (the shipped verb) and [[closureInputsOf]] (the
    * GraphSpec convergence certificate), so a future edit to the
    * input construction cannot silently decouple the certificate from
    * what q169 actually expands — the exact divergence the
    * certificate exists to rule out.
    */
  private def closureInputFrames(
      undB: DataFrame, coreNodes: DataFrame, undD: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // delta edges not already in the base edge set (q167's dedup rule)
    val deltaNew = undD.select(col("u"), col("v"))
      .join(undB, Seq("u", "v"), "left_anti")
    val merged = undB.unionByName(deltaNew)
    // cascade channel: merged edges with BOTH endpoints outside the
    // anchored core — tiny by construction (the core holds the dense
    // mass; this is the loose fringe)
    val nonCoreEdges = merged
      .join(coreNodes.withColumnRenamed("n", "u"), Seq("u"), "left_anti")
      .join(coreNodes.withColumnRenamed("n", "v"), Seq("v"), "left_anti")
    val dEnds = deltaNew.select(col("u").as("n"))
      .unionByName(deltaNew.select(col("v").as("n"))).distinct()
    val seed = dEnds.join(coreNodes, Seq("n"), "left_anti")
    (deltaNew, merged, nonCoreEdges, seed)
  }

  /** The 10% delivery bucket's undirected co-purchase edges — shared
    * by [[incrementalKcore]] and [[closureInputsOf]].
    */
  private def deltaEdgesOf(s: SparkSession, d: String): DataFrame = {
    val dli = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pid"))
      .filter(graft.functions.TextFns.h60(col("l_orderkey").cast("string")) % 100 >= 90)
    edgesOf(dli)
      .filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
  }

  /** The q169 closure INPUTS (non-core edge channel + delta-endpoint
    * seed) for a dataset — via [[closureInputFrames]], the SAME
    * construction [[kcoreDelta]] expands over, so GraphSpec's closure
    * convergence certificate runs on the graded graph itself.
    */
  private[graft] def closureInputsOf(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (edDir, coDir) = baseCoreIndex(s, d)
    val undB = Snapshots.read(s, edDir)
    val coreNodes = Snapshots.read(s, coDir).select(col("part_id").as("n"))
    val (_, _, nonCoreEdges, seed) = closureInputFrames(undB, coreNodes, deltaEdgesOf(s, d))
    (nonCoreEdges, seed)
  }

  /** The repair core over explicit frames — the unit GraphSpec drives
    * on the hand-built promotion/cascade fixtures. `coreB` is the base
    * k-core NODE set (anchored); returns the merged core as
    * (part_id, core_deg, in_base_core) ordered by part_id.
    */
  private[graft] def kcoreDelta(
      undB: DataFrame, coreB: DataFrame, undD: DataFrame): DataFrame =
    graft.Parts.sized(undB) {
    val coreNodes = coreB.select(col("part_id").as("n"))
    // shared input construction (see [[closureInputFrames]]); deltaNew
    // and nonCoreEdges are multiply consumed → cached here (cache
    // registration is by logical plan, so `merged`'s embedded deltaNew
    // subplan serves from the same cache)
    val (deltaNew, merged, nonCoreEdges0, seed) =
      closureInputFrames(undB, coreNodes, undD)
    deltaNew.cache()
    val nonCoreEdges = nonCoreEdges0.cache()
    var aset = seed.localCheckpoint(true)
    for (_ <- 1 to ClosureRounds) {
      // A is fringe-sized; the eager per-round checkpoint is the q84
      // connected-components cost class, not a corpus scan
      aset = closureStep(nonCoreEdges, aset).localCheckpoint(true)
    }
    // fixed anchored support: neighbors IN the core, per A node — one
    // edge-linear read, A-sized output
    val cdeg = merged
      .join(aset.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
      .join(coreNodes.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
      .select(col("u").as("n"))
      .unionByName(merged
        .join(aset.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
        .join(coreNodes.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
        .select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("cdeg"))
    var surv = aset.join(cdeg, Seq("n"), "left")
      .select(col("n"), coalesce(col("cdeg"), lit(0L)).as("cdeg"))
      .localCheckpoint(true)
    var eA = nonCoreEdges
      .join(aset.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
      .join(aset.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
      .localCheckpoint(true)
    for (_ <- 1 to PeelRounds) {
      val adeg = eA.select(col("u").as("n"))
        .unionByName(eA.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("adeg"))
      val kept = surv.join(adeg, Seq("n"), "left")
        .filter(col("cdeg") + coalesce(col("adeg"), lit(0L)) >= CoreK)
        .select(col("n"), col("cdeg"))
      eA = eA
        .join(kept.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(kept.select(col("n").as("v")), Seq("v"), "left_semi")
        .localCheckpoint(true)
      surv = kept.localCheckpoint(true)
    }
    val finalNodes = coreNodes.unionByName(surv.select(col("n"))).cache()
    // final degrees over the merged graph restricted to the merged
    // core — the one remaining corpus-linear pass (base-core degrees
    // shift when delta edges land inside the core or promotions attach)
    val coreEdges = merged
      .join(finalNodes.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
      .join(finalNodes.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
    // eager final checkpoint — see [[pagerankOf]]'s sizing-window note
    coreEdges.select(col("u").as("n")).unionByName(coreEdges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("core_deg"))
      .join(coreNodes.withColumn("in_base_core", lit(true)), Seq("n"), "left")
      .select(
        col("n").as("part_id"), col("core_deg"),
        coalesce(col("in_base_core"), lit(false)).as("in_base_core"))
      .localCheckpoint(true)
    }.orderBy(col("part_id"))

  private[graft] def incrementalKcore(s: SparkSession, d: String): DataFrame = {
    val (edDir, coDir) = baseCoreIndex(s, d)
    val undB = Snapshots.read(s, edDir)
    val coreB = Snapshots.read(s, coDir)
    kcoreDelta(undB, coreB, deltaEdgesOf(s, d))
  }

  /** Oracle: base AND merged graphs re-peeled from scratch with the
    * fixed-round batch form (incremental-equals-batch, q167's gate);
    * the merged graph is exactly q157's, so its convergence
    * certificate carries over. Every iterated CTE materialized.
    */
  private[graft] val incrementalKcoreSql: String = {
    val h = graft.functions.TextFns.Sql.h60("CAST(l_orderkey AS VARCHAR)")
    def peel(pfx: String, src: String): String =
      (1 to PeelRounds).map { i =>
        val prev = if (i == 1) src else s"${pfx}und${i - 1}"
        s"""${pfx}dg$i AS MATERIALIZED (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg
               FROM (SELECT u AS n FROM $prev UNION ALL SELECT v AS n FROM $prev)
               GROUP BY n),
           ${pfx}kp$i AS MATERIALIZED (SELECT n FROM ${pfx}dg$i WHERE dg >= $CoreK),
           ${pfx}und$i AS MATERIALIZED (SELECT e.u, e.v FROM $prev e
                 WHERE e.u IN (SELECT n FROM ${pfx}kp$i)
                   AND e.v IN (SELECT n FROM ${pfx}kp$i))"""
      }.mkString(",\n    ")
    s"""
    WITH bli AS MATERIALIZED (
      SELECT l_orderkey AS ok, l_partkey AS pid FROM lineitem
      WHERE ($h % 100) < 90),
    undb AS MATERIALIZED (
      SELECT DISTINCT a.pid AS u, b.pid AS v
      FROM bli a JOIN bli b ON a.ok = b.ok AND a.pid < b.pid),
    dli AS MATERIALIZED (
      SELECT l_orderkey AS ok, l_partkey AS pid FROM lineitem
      WHERE ($h % 100) >= 90),
    deltanew AS MATERIALIZED (
      SELECT DISTINCT a.pid AS u, b.pid AS v
      FROM dli a JOIN dli b ON a.ok = b.ok AND a.pid < b.pid
      EXCEPT
      SELECT u, v FROM undb),
    m AS MATERIALIZED (
      SELECT u, v FROM undb UNION ALL SELECT u, v FROM deltanew),
    ${peel("b", "undb")},
    ${peel("m", "m")},
    basecore AS MATERIALIZED (
      SELECT DISTINCT n FROM
        (SELECT u AS n FROM bund$PeelRounds UNION ALL SELECT v AS n FROM bund$PeelRounds)),
    mdeg AS MATERIALIZED (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS core_deg FROM
        (SELECT u AS n FROM mund$PeelRounds UNION ALL SELECT v AS n FROM mund$PeelRounds)
      GROUP BY n)
    SELECT m.n AS part_id, m.core_deg, (b.n IS NOT NULL) AS in_base_core
    FROM mdeg m LEFT JOIN basecore b ON m.n = b.n
    ORDER BY m.n"""
  }

  // ---------------------------------------------------------------
  // q171: connected components (neighbor-min + pointer-jump rounds)
  // ---------------------------------------------------------------

  /** Label-propagation rounds for connected components. Each round is
    * a neighbor-min (reach +1 hop) followed by a pointer jump
    * lbl ← lbl[lbl] (reach ×2), so [[CcRounds]] = 5 rounds certify
    * components of diameter ≥ 2⁵ — far past a co-purchase graph's
    * (dense, hub-heavy, shallow). The fixed count keeps the oracle
    * replayable CTE-for-CTE; GraphSpec holds the convergence-
    * certificate form (it proves the two agree on the corpus, and
    * pins a long-path fixture where insufficient rounds are
    * DETECTABLE from the output alone: an edge whose endpoints carry
    * different labels).
    */
  private[graft] val CcRounds = 5

  /** Connected components of the undirected co-purchase graph: which
    * products trade together AT ALL — the coarsest mix structure
    * (q84's duplicate-cluster labeling is this verb on the dup-pair
    * graph; here it is first-class on the product graph, with the
    * pointer-jump rounds that make long chains converge in log time
    * instead of diameter time — the 100 TB fix for pure min-label
    * propagation). Output: every traded part with its component label
    * (= the component's minimum part id once converged) and the
    * component size. Node universe = DISTINCT l_partkey (q150's), so
    * single-item-order parts surface as singletons.
    */
  private[graft] def connectedComponents(s: SparkSession, d: String): DataFrame = {
    val nodes = Tables.lineitem(s, d).select(col("l_partkey").as("part_id")).distinct()
    ccOf(nodes, undEdges(s, d))
  }

  /** [[connectedComponents]]'s core over explicit frames — the unit
    * GraphSpec drives on synthetic graphs.
    */
  private[graft] def ccOf(nodes: DataFrame, undRaw: DataFrame): DataFrame = {
    val lbl = ccLabels(nodes, undRaw, CcRounds).cache()
    val sizes = lbl.groupBy(col("lbl")).agg(count(lit(1)).as("comp_n"))
    lbl.join(sizes, Seq("lbl"))
      .select(col("part_id"), col("lbl").as("comp"), col("comp_n"))
      .orderBy(col("part_id"))
  }

  /** `rounds` alternating (neighbor-min, pointer-jump) rounds from
    * lbl₀ = own id. Labels are ALWAYS live node ids (a min of ids), so
    * the jump's self-join is total. The adjacency (both directions) is
    * pinned on its probe key once and cached — per round only the
    * node-sized label frame moves, the q150 shuffle discipline.
    * Checkpoint cadence + progressive cache release per [[prIterate]].
    */
  private[graft] def ccLabels(nodes: DataFrame, undRaw: DataFrame, rounds: Int): DataFrame =
    graft.Parts.sized(undRaw) {
    // pinned on b — the label-fetch join key — so per round only the
    // node-sized label frame shuffles to the edges, never the reverse
    val adj = undRaw.select(col("u").as("a"), col("v").as("b"))
      .unionByName(undRaw.select(col("v").as("a"), col("u").as("b")))
      .repartition(col("b")).cache()
    var lbl = nodes.select(col("part_id"), col("part_id").as("lbl"))
      .localCheckpoint(true)
    var toFree: List[DataFrame] = Nil
    for (i <- 1 to rounds) {
      val nbrMin = adj
        .join(lbl.select(col("part_id").as("b"), col("lbl").as("lb")), Seq("b"))
        .groupBy(col("a")).agg(min(col("lb")).as("nm"))
      // neighbor-min (isolated nodes keep their own label) …
      val m = lbl
        .join(nbrMin.withColumnRenamed("a", "part_id"), Seq("part_id"), "left")
        .select(col("part_id"),
          least(col("lbl"), coalesce(col("nm"), col("lbl"))).as("lbl"))
        .cache() // consumed twice by the jump's self-join
      // … then pointer jump: lbl ← lbl[lbl]
      val next = m
        .join(m.select(col("part_id").as("lbl"), col("lbl").as("l2")), Seq("lbl"))
        .select(col("part_id"), col("l2").as("lbl"))
      if (i % 2 == 0 && i < rounds) {
        lbl = next.localCheckpoint(true)
        (m :: toFree).foreach(_.unpersist(false)); toFree = Nil
      } else {
        lbl = next.cache()
        toFree = m :: lbl :: toFree
      }
    }
    // eager final checkpoint — see [[pagerankOf]]'s sizing-window note
    lbl.localCheckpoint(true)
    }

  /** Per-round CTEs materialized: each nm/l round is referenced twice
    * (the jump self-joins nm; the next round reads l twice) — the
    * DuckDB 1.0 exponential-inlining hazard class, see [[kcoreSql]].
    */
  private[graft] val connectedComponentsSql: String = {
    val rounds = (1 to CcRounds).map { i =>
      s"""nm$i AS MATERIALIZED (
           SELECT n.part_id, LEAST(n.lbl, COALESCE(MIN(p.lbl), n.lbl)) AS lbl
           FROM l${i - 1} n
           LEFT JOIN adj e ON e.a = n.part_id
           LEFT JOIN l${i - 1} p ON p.part_id = e.b
           GROUP BY n.part_id, n.lbl),
         l$i AS MATERIALIZED (
           SELECT x.part_id, y.lbl FROM nm$i x JOIN nm$i y ON x.lbl = y.part_id)"""
    }.mkString(",\n    ")
    s"""
    WITH ${coEdgesSqlMat},
    und AS MATERIALIZED (SELECT src AS u, dst AS v FROM ed0 WHERE src < dst),
    adj AS MATERIALIZED (
      SELECT u AS a, v AS b FROM und UNION ALL SELECT v AS a, u AS b FROM und),
    nodes AS MATERIALIZED (SELECT DISTINCT l_partkey AS part_id FROM lineitem),
    l0 AS MATERIALIZED (SELECT part_id, part_id AS lbl FROM nodes),
    $rounds,
    cs AS MATERIALIZED (
      SELECT lbl, CAST(COUNT(*) AS BIGINT) AS comp_n FROM l$CcRounds GROUP BY lbl)
    SELECT x.part_id, x.lbl AS comp, c.comp_n
    FROM l$CcRounds x JOIN cs c ON x.lbl = c.lbl
    ORDER BY x.part_id"""
  }

  // ---------------------------------------------------------------
  // q172: delivery-time incremental connected components
  // ---------------------------------------------------------------

  /** The standing base index (q159's lifecycle for the component
    * surface): the 90% md5 bucket of ORDERS commits its undirected
    * edge set and its converged component labels as two snapshot
    * tables once per DATASET (cross-JVM via [[graft.IndexStore]]). Additions-only deltas can only
    * MERGE components, never split them — so serving never relabels
    * the corpus: it contracts the base graph to its component
    * representatives (the quotient) and runs CC over the
    * delta-induced quotient edges, a graph bounded by the DELTA's
    * edge count, not the corpus's.
    */
  private[graft] def baseCcIndex(s: SparkSession, d: String): (String, String) = {
    val parts = graft.IndexStore.resolve(s, "cc_index", 1, d, Seq("lineitem.parquet")) {
      dirOf =>
        val bli = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pid"))
          .filter(graft.functions.TextFns.h60(col("l_orderkey").cast("string")) % 100 < 90)
        val undB = edgesOf(bli)
          .filter(col("src") < col("dst"))
          .select(col("src").as("u"), col("dst").as("v"))
          .repartition(col("u"))
          .cache()
        val nodesB = bli.select(col("pid").as("part_id")).distinct()
        val lblB = ccLabels(nodesB, undB, CcRounds)
        Map(
          "edges" -> Snapshots.commit(undB, dirOf("edges"), replace = true),
          "cc" -> Snapshots.commit(
            lblB.select(col("part_id"), col("lbl").as("comp")), dirOf("cc"),
            replace = true))
    }
    (parts("edges"), parts("cc"))
  }

  /** The merge core over explicit frames — the unit GraphSpec drives.
    * `ccB` is the PINNED base labeling (contract: converged — the
    * certificate GraphSpec pins on the base bucket, q169's premise);
    * `dNodes` the delivery's node universe. Output: every node (base ∪
    * delivery) with its base component (0 = born in this delivery) and
    * its merged component — movers visible, the q159 convention.
    */
  private[graft] def ccDelta(
      undB: DataFrame, ccB: DataFrame, undD: DataFrame, dNodes: DataFrame): DataFrame = {
    // delta edges not already in the base edge set (q167's dedup rule)
    val deltaNew = undD.join(undB, Seq("u", "v"), "left_anti")
    val lab = ccB.cache()
    // endpoints → base representatives (a node born in the delivery
    // represents itself); same-component edges drop out immediately
    val qe = deltaNew
      .join(lab.select(col("part_id").as("u"), col("comp").as("cu")), Seq("u"), "left")
      .join(lab.select(col("part_id").as("v"), col("comp").as("cv")), Seq("v"), "left")
      .select(coalesce(col("cu"), col("u")).as("qu"), coalesce(col("cv"), col("v")).as("qv"))
      .filter(col("qu") =!= col("qv"))
      .select(least(col("qu"), col("qv")).as("u"), greatest(col("qu"), col("qv")).as("v"))
      .distinct()
      .cache() // quotient: bounded by the delta's edge count
    val qn = qe.select(col("u").as("part_id"))
      .unionByName(qe.select(col("v").as("part_id"))).distinct()
    // CC over the quotient — delta-sized work, never a corpus relabel
    val qlbl = ccLabels(qn, qe, CcRounds)
    val allNodes = lab.select(col("part_id"), col("comp").as("comp_base"))
      .join(dNodes.select(col("part_id")), Seq("part_id"), "full_outer")
    allNodes
      .select(col("part_id"), col("comp_base"),
        coalesce(col("comp_base"), col("part_id")).as("c0"))
      .join(broadcast(qlbl.select(col("part_id").as("c0"), col("lbl").as("cq"))),
        Seq("c0"), "left")
      .select(col("part_id"),
        coalesce(col("comp_base"), lit(0)).as("comp_base"),
        coalesce(col("cq"), col("c0")).as("comp"))
      .orderBy(col("part_id"))
  }

  private[graft] def incrementalComponents(s: SparkSession, d: String): DataFrame = {
    val (edDir, ccDir) = baseCcIndex(s, d)
    // ---- serving side: everything below reads the PINNED index
    val undB = Snapshots.read(s, edDir)
    val ccB = Snapshots.read(s, ccDir)
    val dli = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pid"))
      .filter(graft.functions.TextFns.h60(col("l_orderkey").cast("string")) % 100 >= 90)
      .cache()
    val undD = edgesOf(dli)
      .filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    ccDelta(undB, ccB, undD, dli.select(col("pid").as("part_id")).distinct())
  }

  /** Oracle: replays index build (base rounds), quotient construction,
    * and quotient rounds CTE-for-CTE — every iterated CTE materialized
    * (see [[kcoreSql]]).
    */
  private[graft] val incrementalComponentsSql: String = {
    val h = graft.functions.TextFns.Sql.h60("CAST(l_orderkey AS VARCHAR)")
    def ccRounds(pfx: String, adjT: String): String =
      (1 to CcRounds).map { i =>
        s"""${pfx}nm$i AS MATERIALIZED (
             SELECT n.part_id, LEAST(n.lbl, COALESCE(MIN(p.lbl), n.lbl)) AS lbl
             FROM ${pfx}l${i - 1} n
             LEFT JOIN $adjT e ON e.a = n.part_id
             LEFT JOIN ${pfx}l${i - 1} p ON p.part_id = e.b
             GROUP BY n.part_id, n.lbl),
           ${pfx}l$i AS MATERIALIZED (
             SELECT x.part_id, y.lbl FROM ${pfx}nm$i x JOIN ${pfx}nm$i y
             ON x.lbl = y.part_id)"""
      }.mkString(",\n    ")
    s"""
    WITH bli AS MATERIALIZED (
      SELECT l_orderkey AS ok, l_partkey AS pid FROM lineitem
      WHERE ($h % 100) < 90),
    undb AS MATERIALIZED (
      SELECT DISTINCT a.pid AS u, b.pid AS v
      FROM bli a JOIN bli b ON a.ok = b.ok AND a.pid < b.pid),
    badj AS MATERIALIZED (
      SELECT u AS a, v AS b FROM undb UNION ALL SELECT v AS a, u AS b FROM undb),
    bl0 AS MATERIALIZED (
      SELECT DISTINCT pid AS part_id, pid AS lbl FROM bli),
    ${ccRounds("b", "badj")},
    dli AS MATERIALIZED (
      SELECT l_orderkey AS ok, l_partkey AS pid FROM lineitem
      WHERE ($h % 100) >= 90),
    deltanew AS MATERIALIZED (
      SELECT DISTINCT a.pid AS u, b.pid AS v
      FROM dli a JOIN dli b ON a.ok = b.ok AND a.pid < b.pid
      EXCEPT
      SELECT u, v FROM undb),
    qe AS MATERIALIZED (
      SELECT DISTINCT LEAST(qu, qv) AS u, GREATEST(qu, qv) AS v
      FROM (SELECT COALESCE(cu.lbl, e.u) AS qu, COALESCE(cv.lbl, e.v) AS qv
            FROM deltanew e
            LEFT JOIN bl$CcRounds cu ON cu.part_id = e.u
            LEFT JOIN bl$CcRounds cv ON cv.part_id = e.v)
      WHERE qu <> qv),
    qadj AS MATERIALIZED (
      SELECT u AS a, v AS b FROM qe UNION ALL SELECT v AS a, u AS b FROM qe),
    ql0 AS MATERIALIZED (
      SELECT part_id, part_id AS lbl FROM
        (SELECT u AS part_id FROM qe UNION SELECT v AS part_id FROM qe)),
    ${ccRounds("q", "qadj")},
    allnodes AS MATERIALIZED (
      SELECT part_id FROM bl0 UNION SELECT DISTINCT pid AS part_id FROM dli),
    pre AS MATERIALIZED (
      SELECT a.part_id, b.lbl AS comp_base,
             COALESCE(b.lbl, a.part_id) AS c0
      FROM allnodes a LEFT JOIN bl$CcRounds b ON b.part_id = a.part_id)
    SELECT p.part_id, COALESCE(p.comp_base, 0) AS comp_base,
           COALESCE(q.lbl, p.c0) AS comp
    FROM pre p LEFT JOIN ql$CcRounds q ON q.part_id = p.c0
    ORDER BY p.part_id"""
  }

  // ---------------------------------------------------------------
  // q173: graph report card (one-row co-purchase health summary)
  // ---------------------------------------------------------------

  /** The one-row graph health summary a product-mix owner runs before
    * trusting any downstream graph analytic — q160's corpus report
    * card for the graph surface: size (nodes/edges), degree shape
    * (max, integer-micro mean), connectivity (isolated parts,
    * component count, giant-component share via the q171 labeling,
    * whose convergence certificate carries). All-integer arithmetic —
    * counts and two integer divs, no doubles — so the row is
    * engine-exact; the 2·m numerator is widened through DECIMAL(38,0)
    * (the q160/q166 overflow class: at 100 TB, edge counts × 1e6
    * brush the int64 line).
    */
  private[graft] def graphReport(s: SparkSession, d: String): DataFrame = {
    val nodes = Tables.lineitem(s, d).select(col("l_partkey").as("part_id")).distinct()
    graphReportOf(nodes, undEdges(s, d))
  }

  /** [[graphReport]]'s core over explicit frames — the unit GraphSpec
    * drives on a hand-computable fixture.
    */
  private[graft] def graphReportOf(nodes: DataFrame, undRaw: DataFrame): DataFrame = {
    val und = undRaw.cache() // consumed by degrees, the edge count, and cc
    val comps = ccLabels(nodes, und, CcRounds)
      .groupBy(col("lbl")).agg(count(lit(1)).as("cn"))
    val deg = und.select(col("u").as("n")).unionByName(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(deg.agg(max(col("dg")).as("max_deg"),
        count(lit(1)).as("n_with_edge")))
      .crossJoin(comps.agg(count(lit(1)).as("n_components"),
        max(col("cn")).as("giant_n")))
      .select(
        col("n_nodes"), col("n_edges"),
        coalesce(col("max_deg"), lit(0L)).as("max_deg"),
        expr("CAST((CAST(2 AS DECIMAL(38,0)) * n_edges * 1000000) div n_nodes AS BIGINT)")
          .as("avg_deg_micro"),
        (col("n_nodes") - coalesce(col("n_with_edge"), lit(0L))).as("isolated_parts"),
        col("n_components"), col("giant_n"),
        expr("CAST((CAST(giant_n AS DECIMAL(38,0)) * 1000000) div n_nodes AS BIGINT)")
          .as("giant_share_micro"))
  }

  /** CC rounds replayed per [[connectedComponentsSql]]; the four
    * aggregate arms cross-joined on their one-row results.
    */
  private[graft] val graphReportSql: String = {
    val rounds = (1 to CcRounds).map { i =>
      s"""nm$i AS MATERIALIZED (
           SELECT n.part_id, LEAST(n.lbl, COALESCE(MIN(p.lbl), n.lbl)) AS lbl
           FROM l${i - 1} n
           LEFT JOIN adj e ON e.a = n.part_id
           LEFT JOIN l${i - 1} p ON p.part_id = e.b
           GROUP BY n.part_id, n.lbl),
         l$i AS MATERIALIZED (
           SELECT x.part_id, y.lbl FROM nm$i x JOIN nm$i y ON x.lbl = y.part_id)"""
    }.mkString(",\n    ")
    s"""
    WITH ${coEdgesSqlMat},
    und AS MATERIALIZED (SELECT src AS u, dst AS v FROM ed0 WHERE src < dst),
    adj AS MATERIALIZED (
      SELECT u AS a, v AS b FROM und UNION ALL SELECT v AS a, u AS b FROM und),
    nodes AS MATERIALIZED (SELECT DISTINCT l_partkey AS part_id FROM lineitem),
    l0 AS MATERIALIZED (SELECT part_id, part_id AS lbl FROM nodes),
    $rounds,
    cs AS MATERIALIZED (
      SELECT lbl, CAST(COUNT(*) AS BIGINT) AS cn FROM l$CcRounds GROUP BY lbl),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg
            FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
            GROUP BY n)
    SELECT nn.n_nodes, ne.n_edges,
           COALESCE(dgs.max_deg, 0) AS max_deg,
           CAST((CAST(2 AS DECIMAL(38,0)) * ne.n_edges * 1000000)
                // nn.n_nodes AS BIGINT) AS avg_deg_micro,
           nn.n_nodes - COALESCE(dgs.n_with_edge, 0) AS isolated_parts,
           c.n_components, c.giant_n,
           CAST((CAST(c.giant_n AS DECIMAL(38,0)) * 1000000)
                // nn.n_nodes AS BIGINT) AS giant_share_micro
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes) nn,
         (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und) ne,
         (SELECT CAST(MAX(dg) AS BIGINT) AS max_deg,
                 CAST(COUNT(*) AS BIGINT) AS n_with_edge FROM deg) dgs,
         (SELECT CAST(COUNT(*) AS BIGINT) AS n_components,
                 CAST(MAX(cn) AS BIGINT) AS giant_n FROM cs) c"""
  }

  val all: Seq[Q] = Seq(
    Q("q149_gat_embedding", (s, d) => gatEmbedding(s, d), Some(gatEmbeddingSql)),
    Q("q150_pagerank", (s, d) => pagerank(s, d), Some(pagerankSql)),
    Q("q151_triangle_count", (s, d) => triangles(s, d), Some(trianglesSql)),
    Q("q156_personalized_pagerank", (s, d) => personalizedPagerank(s, d),
      Some(personalizedPagerankSql)),
    Q("q157_kcore", (s, d) => kcore(s, d), Some(kcoreSql)),
    Q("q159_incremental_pagerank", (s, d) => incrementalPagerank(s, d),
      Some(incrementalPagerankSql)),
    Q("q167_incremental_triangles", (s, d) => incrementalTriangles(s, d),
      Some(incrementalTrianglesSql)),
    Q("q168_sampled_triangles", (s, d) => sampledTriangles(s, d),
      Some(sampledTrianglesSql)),
    Q("q169_incremental_kcore", (s, d) => incrementalKcore(s, d),
      Some(incrementalKcoreSql)),
    Q("q171_connected_components", (s, d) => connectedComponents(s, d),
      Some(connectedComponentsSql)),
    Q("q172_incremental_components", (s, d) => incrementalComponents(s, d),
      Some(incrementalComponentsSql)),
    Q("q173_graph_report", (s, d) => graphReport(s, d), Some(graphReportSql))
  )
}
