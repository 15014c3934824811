package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}

/** Similarity search over the `embeddings` table (`Array[Float]`
  * column): brute-force cosine top-k as the correctness baseline, and
  * random-hyperplane LSH bucketing as the scale path (candidates only
  * ever meet inside a bucket — subquadratic, shuffle keyed by bucket).
  *
  * Numeric determinism: every dot product / squared norm is summed as
  * DECIMAL(38,12) (order-independent, exact) and only then cast to
  * double, so Spark and the DuckDB oracle agree bitwise; sqrt and
  * division are single correctly-rounded IEEE ops on both engines.
  * Hyperplane weights come from an explicit integer LCG, not either
  * engine's RNG.
  */
object Similarity {

  private val Acc = DecimalType(38, 12)

  /** 0-based (vec_id, pos, x: double) element table. */
  private def elems(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      // the embeddings file is one small parquet split; posexplode
      // amplifies it 64x, so spread rows across the cluster FIRST or
      // the whole element pipeline runs in a single task
      .repartition(col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("pos"), col("xf").cast("double").as("x"))

  private val elemsSql: String =
    """el AS (SELECT vec_id,
              generate_subscripts(embedding, 1) - 1 AS pos,
              CAST(unnest(embedding) AS DOUBLE) AS x
       FROM embeddings)"""

  /** Norms from an ALREADY-BUILT element frame: callers cache their
    * element table and derive norms from the same frame, so the scan /
    * explode / repartition pipeline runs once per query, not once per
    * derived table (self-joins get no exchange reuse — CLAUDE.md rule).
    */
  private def normsOf(el: DataFrame): DataFrame =
    el.groupBy(col("vec_id"))
      .agg(sqrt(sum((col("x") * col("x")).cast(Acc)).cast("double")).as("norm"))

  private val normsSql: String =
    """norms AS (SELECT vec_id,
                 sqrt(CAST(SUM(CAST(x*x AS DECIMAL(38,12))) AS DOUBLE)) AS norm
          FROM el GROUP BY vec_id)"""

  /** Exact pairwise dot products for (left ⋈ right) element tables
    * joined on pos; caller constrains which pairs meet.
    */
  private def cosine(dot: Column, na: Column, nb: Column): Column =
    round(dot / (na * nb), 6)


  /** Brute-force top-k via the native codegen'd [[graft.functions.ArrayDot]]
    * kernel: broadcast the 8 query vectors, score each candidate row in
    * one WholeStageCodegen loop — no element explode, no element
    * shuffle (q51 is the decimal-exact oracle twin; ScalaTest asserts
    * both produce the same ranking).
    */
  private[graft] def nativeTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.ArrayDot.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("cand_id"),
        // rank on the ROUNDED cosine (like q51 and the shared oracle):
        // ranking on the raw double would break ties differently
        // whenever two candidates agree to 6 decimals
        round(expr("graft_dot(v, qv)") / (col("norm") * col("qn")), 6).as("cos"))
      .withColumn(
        "rnk",
        row_number()
          .over(Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id")))
          .cast(IntegerType))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  private val NBits = 12

  /** Skew guard (mirrored in the oracle SQL): an LSH bucket holding
    * more than this many vectors — e.g. a mass of zero/duplicate
    * embeddings all signing identically — would emit O(n²) candidate
    * pairs from one shuffle key. Oversized buckets are dropped from
    * candidate generation; at the test scale factors no bucket exceeds
    * it (max 73 at sf0.1), so results are unchanged while pair counts
    * stay bounded at any corpus size (pinned in DedupSkewSpec).
    */
  private[operators] val MaxBucket = 128

  /** 12-bit random-hyperplane signature per vector. Hyperplane weight
    * w(p, i) ∈ {-1, +1} comes from a glibc-constants LCG over the flat
    * index p*64+i — pure int64 arithmetic, reproducible in any engine.
    */
  private def lshBuckets(s: SparkSession, d: String): DataFrame = {
    val w = when(
      (lit(1103515245L) * (col("pw.p") * 64 + col("pos")) + 12345L) % 2147483648L < 1073741824L,
      -1).otherwise(1)
    elems(s, d)
      .select(
        col("vec_id"), col("pos"), col("x"),
        explode(transform(sequence(lit(0), lit(NBits - 1)), p => struct(p.as("p")))).as("pw"))
      .select(col("vec_id"), col("pw.p").as("p"), (w * col("x")).cast(Acc).as("wx"))
      .groupBy(col("vec_id"), col("p"))
      .agg(sum(col("wx")).as("sp"))
      .groupBy(col("vec_id"))
      .agg(
        sum(when(col("sp") > 0, expr("shiftleft(CAST(1 AS BIGINT), p)")).otherwise(0L))
          .as("bucket"))
  }

  private val lshSql: String =
    s"""wp AS (SELECT vec_id, p,
               CASE WHEN (1103515245::BIGINT * (p*64 + pos) + 12345) % 2147483648 < 1073741824
                    THEN -1 ELSE 1 END * x AS wx
        FROM el, (SELECT unnest(generate_series(0, ${NBits - 1})) AS p)),
        sp AS (SELECT vec_id, p, SUM(CAST(wx AS DECIMAL(38,12))) AS sp FROM wp GROUP BY vec_id, p),
        b AS (SELECT vec_id,
                     CAST(SUM(CASE WHEN sp > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
              FROM sp GROUP BY vec_id)"""

  private[graft] val IvfCells = 5
  private val IvfProbes = 2

  /** Corpus vectors index into their top-[[IvfAssign]] cells, not just
    * the nearest (SPANN-style replication): on a corpus with weak
    * cluster structure — this synthetic table's blobs overlap almost
    * completely — single-assignment recall collapses toward the probed
    * corpus FRACTION, and doubling the index (bounded, 2×) buys back
    * most of it. Measured at the gated sf0.001: 0.90 recall@10 vs 0.62
    * single-assigned at the same k/nprobe.
    */
  private val IvfAssign = 2

  /** LEARNED coarse centroids, oracle-replayable. The quantizer is
    * trained, not fixed: per-label exact means initialize it (q95's
    * statistic, folded mod [[IvfCells]]) and one Lloyd iteration
    * refines it. Every training step is deterministic exact
    * arithmetic — decimal-accumulated sums, single correctly-rounded
    * double divisions, rank windows with an explicit cell tiebreak — so
    * the DuckDB oracle REPLAYS TRAINING bit-for-bit and the whole index
    * stays hash-gated. (MLlib `kmeansCanonical` was considered and
    * rejected here: k-means|| init is library-internal, which would
    * demote q76 from hash parity to a rows-only check. Exact Lloyd from
    * a deterministic init IS k-means training, with the oracle kept.)
    *
    * [[meansOf]]: exact per-(cell, dim) means of a primary assignment;
    * [[scoresOf]]: score(v, cell) = v·c − ‖c‖²/2 for every vector ×
    * cell — maximizing it is nearest-L2 assignment (the ‖v‖² term is
    * constant per vector); [[cellsOf]]: the top-`top` cells per vector,
    * deterministically. The centroid matrix (k × dim) broadcasts;
    * scoring fans each element row to k map-side and combines back to
    * corpus × k before the shuffle — never corpus². The k/nprobe/assign
    * constants are TEST-SCALE choices for this structureless corpus
    * (candidates/query is a large fraction of 500-2000 vectors); the
    * shape — bounded replication, keyed cell equi-join, broadcast
    * centroids — is what carries to a real corpus, where k grows ~√N
    * and the probed fraction shrinks.
    */
  private def meansOf(el: DataFrame, asg: DataFrame): DataFrame =
    el.join(asg, "vec_id")
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("x").cast(Acc)).cast("double") / count(lit(1)).cast("double")).as("c"))

  private def scoresOf(el: DataFrame, cents: DataFrame): DataFrame = {
    val h = cents.groupBy(col("cell"))
      .agg((sum((col("c") * col("c")).cast(Acc)).cast("double") / 2.0).as("h"))
    el.join(broadcast(cents), Seq("pos"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum((col("x") * col("c")).cast(Acc)).cast("double").as("dot"))
      .join(broadcast(h), Seq("cell"))
      .select(col("vec_id"), col("cell"), (col("dot") - col("h")).as("score"))
  }

  private def cellsOf(scores: DataFrame, top: Int): DataFrame =
    if (top == 1)
      // top-1 as a partially-aggregable min(struct(−score, cell)):
      // selects exactly the window's (score DESC, cell ASC) winner —
      // double negation is an exact sign flip and orders inversely.
      // TopKRewrite already turned the rank-1 window into a bounded
      // aggregate; this states the single-winner reduction directly
      // (plain min, no typed top-k buffer, no rewrite-rule
      // dependence). The top>1 probe/index paths keep the rank window.
      scores.groupBy(col("vec_id"))
        .agg(min(struct(negate(col("score")), col("cell"))).as("b"))
        .select(col("vec_id"), col("b.cell").as("cell"))
    else
      scores
        .withColumn(
          "rn",
          row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("cell"))))
        .filter(col("rn") <= top)
        .select(col("vec_id"), col("cell"))

  /** SQL mirror of one means→scores round; `asg` names the CTE holding
    * (vec_id, cell); `src` the element CTE the MEANS draw from (the
    * training set — scores always cover the full `el`, since the final
    * round's scores assign/probe everyone; q199 trains on the standing
    * bucket only, so restricting the means restricts training).
    */
  private def ivfRoundSql(i: Int, asg: String, src: String = "el"): String =
    s"""c$i AS (SELECT a.cell, e.pos,
                     CAST(SUM(CAST(e.x AS DECIMAL(38,12))) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE) AS c
              FROM $src e JOIN $asg a ON e.vec_id = a.vec_id
              GROUP BY 1, 2),
        h$i AS (SELECT cell,
                     CAST(SUM(CAST(c*c AS DECIMAL(38,12))) AS DOUBLE) / 2.0 AS h
              FROM c$i GROUP BY cell),
        s$i AS (SELECT d.vec_id, d.cell, d.dot - h$i.h AS score
              FROM (SELECT el.vec_id, c$i.cell,
                           CAST(SUM(CAST(el.x * c$i.c AS DECIMAL(38,12))) AS DOUBLE) AS dot
                    FROM el JOIN c$i ON el.pos = c$i.pos
                    GROUP BY 1, 2) d
              JOIN h$i ON d.cell = h$i.cell)"""

  private val ivfOracleSql: String =
    s"""
        WITH $elemsSql,
        $normsSql,
        lab AS (SELECT vec_id, CAST(label % $IvfCells AS INT) AS cell FROM embeddings),
        ${ivfRoundSql(0, "lab")},
        a0 AS (SELECT vec_id, cell FROM (
                 SELECT vec_id, cell,
                        row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
                 FROM s0)
               WHERE rn = 1),
        ${ivfRoundSql(1, "a0")},
        cells AS (SELECT vec_id, cell FROM (
                    SELECT vec_id, cell,
                           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
                    FROM s1)
                  WHERE rn <= $IvfAssign),
        probes AS (SELECT vec_id AS query_id, cell FROM (
                     SELECT vec_id, cell,
                            row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS pr
                     FROM s1 WHERE vec_id < 8)
                   WHERE pr <= $IvfProbes),
        cand AS (SELECT DISTINCT p.query_id, c.vec_id AS cand_id
                 FROM probes p JOIN cells c ON p.cell = c.cell AND c.vec_id != p.query_id),
        pdots AS (SELECT cn.query_id, cn.cand_id,
                         CAST(SUM(CAST(a.x*b.x AS DECIMAL(38,12))) AS DOUBLE) AS dot
                  FROM cand cn
                  JOIN el a ON cn.query_id = a.vec_id
                  JOIN el b ON cn.cand_id = b.vec_id AND a.pos = b.pos
                  GROUP BY cn.query_id, cn.cand_id),
        scored AS (SELECT d.query_id, d.cand_id,
                          ROUND(d.dot / (na.norm * nb.norm), 6) AS cos
                   FROM pdots d
                   JOIN norms na ON d.query_id = na.vec_id
                   JOIN norms nb ON d.cand_id = nb.vec_id)
        SELECT query_id, cand_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INT) AS rnk
        FROM scored
        QUALIFY rnk <= 10
        ORDER BY query_id, rnk"""

  /** Shared oracle for q51 and q64: both produce the identical
    * (query_id, cand_id, cos, rnk) contract — q51 through decimal-exact
    * element sums, q64 through the native codegen'd dot-product kernel.
    * Gating the native kernel on the same SQL proves the fast path
    * rounds to the same 6-decimal cosines and the same ranking.
    */
  private[operators] val topkOracleSql: String = s"""
        WITH $elemsSql,
        $normsSql,
        dots AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                        CAST(SUM(CAST(a.x*b.x AS DECIMAL(38,12))) AS DOUBLE) AS dot
                 FROM el a JOIN el b ON a.pos = b.pos AND a.vec_id != b.vec_id
                 WHERE a.vec_id < 8
                 GROUP BY a.vec_id, b.vec_id),
        scored AS (SELECT d.query_id, d.cand_id,
                          ROUND(d.dot / (na.norm * nb.norm), 6) AS cos
                   FROM dots d
                   JOIN norms na ON d.query_id = na.vec_id
                   JOIN norms nb ON d.cand_id = nb.vec_id)
        SELECT query_id, cand_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INT) AS rnk
        FROM scored
        QUALIFY rnk <= 10
        ORDER BY query_id, rnk"""

  /** Exact-rerank shortlist depth for the SQ8 path: deep enough that
    * int8 rounding noise cannot push a true top-10 member out of the
    * candidate set at these corpus sizes (recall vs exact q51 gated in
    * NativeFnSpec), shallow enough that the full-precision pass stays
    * trivially bounded.
    */
  private val SqShortlist = 32

  /** Oracle mirror of q139: same scale/code/integer-dot/shortlist/
    * rerank chain. Quantization is floor(x/scale*127 + 0.5) in both
    * engines — one IEEE division, one multiplication, one floor, all
    * correctly rounded and engine-identical — and both the code dot
    * (int64) and the rerank (DECIMAL(38,12)) are exact, so the whole
    * approximate index hash-matches. `allowCte`/`allowJoin` thread the
    * q192 candidate-side metadata filter into the SAME chain (empty for
    * the unfiltered q139).
    */
  private def sq8OracleSqlWhere(allowCte: String, allowJoin: String): String = s"""
        WITH $elemsSql,
        $normsSql,
        $allowCte
        sc AS (SELECT pos, MAX(ABS(x)) AS scale FROM el GROUP BY pos),
        codes AS (SELECT el.vec_id, el.pos,
                         CAST(CASE WHEN sc.scale = 0 THEN 0
                                   ELSE floor(el.x / sc.scale * 127 + 0.5) END AS INT) AS code
                  FROM el JOIN sc ON el.pos = sc.pos),
        qd AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                      CAST(SUM(CAST(a.code AS BIGINT) * b.code) AS BIGINT) AS qdot
               FROM codes a JOIN codes b ON a.pos = b.pos AND a.vec_id != b.vec_id
               $allowJoin
               WHERE a.vec_id < 8
               GROUP BY 1, 2),
        short AS (SELECT query_id, cand_id FROM (
                    SELECT query_id, cand_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY qdot DESC, cand_id) AS srn
                    FROM qd)
                  WHERE srn <= $SqShortlist),
        pdots AS (SELECT s.query_id, s.cand_id,
                         CAST(SUM(CAST(a.x*b.x AS DECIMAL(38,12))) AS DOUBLE) AS dot
                  FROM short s
                  JOIN el a ON s.query_id = a.vec_id
                  JOIN el b ON s.cand_id = b.vec_id AND a.pos = b.pos
                  GROUP BY 1, 2),
        scored AS (SELECT d.query_id, d.cand_id,
                          ROUND(d.dot / (na.norm * nb.norm), 6) AS cos
                   FROM pdots d
                   JOIN norms na ON d.query_id = na.vec_id
                   JOIN norms nb ON d.cand_id = nb.vec_id)
        SELECT query_id, cand_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INT) AS rnk
        FROM scored
        QUALIFY rnk <= 10
        ORDER BY query_id, rnk"""

  private val sq8OracleSql: String = sq8OracleSqlWhere("", "")

  /** q192's oracle: the identical SQ8 chain with the candidate side
    * PRE-filtered on metadata (label % 4 = 1) before the int8 scoring —
    * the shortlist is drawn from the filtered candidates only, so k
    * results always come back and recall is judged within the filtered
    * set (post-filtering a fixed unfiltered shortlist — the naive
    * composition — returns < k rows whenever the filter is selective).
    */
  private val filteredAnnOracleSql: String = sq8OracleSqlWhere(
    "allow AS (SELECT vec_id FROM embeddings WHERE label % 4 = 1),",
    "JOIN allow al ON b.vec_id = al.vec_id")

  /** Exact brute-force cosine top-k (the q51 plan): decimal-exact
    * element-sum dots over the pos-join — the correctness anchor, and
    * the cheapest formulation while the corpus fits comfortably in a
    * scan (8 queries × n candidates).
    */
  private[graft] def bruteTopk(s: SparkSession, d: String): DataFrame =
    bruteTopkOf(elems(s, d).cache())

  /** [[bruteTopk]] over a caller-cached element frame — q195 shares
    * ONE cached scan/explode/repartition pipeline between its PQ arm
    * and this exact arm instead of building two independent caches of
    * the same elements (extra caller columns, e.g. pqElems' `m`, are
    * pruned by Catalyst).
    */
  private[graft] def bruteTopkOf(el: DataFrame): DataFrame = {
    val q = el.filter(col("vec_id") < 8)
    val dots = q.as("a")
      .join(el.as("b"), col("a.pos") === col("b.pos") && col("a.vec_id") =!= col("b.vec_id"))
      .groupBy(col("a.vec_id").as("query_id"), col("b.vec_id").as("cand_id"))
      .agg(sum((col("a.x") * col("b.x")).cast(Acc)).cast("double").as("dot"))
    val n = normsOf(el)
    val scored = dots
      .join(n.as("na"), col("query_id") === col("na.vec_id"))
      .join(n.as("nb"), col("cand_id") === col("nb.vec_id"))
      .select(col("query_id"), col("cand_id"), cosine(col("dot"), col("na.norm"), col("nb.norm")).as("cos"))
    scored
      .withColumn(
        "rnk",
        row_number()
          .over(Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id")))
          .cast(IntegerType))
      .filter(col("rnk") <= 10)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** IVF top-k with the learned coarse quantizer (the q76 plan): probe
    * the [[IvfProbes]] best cells per query, gather candidates through
    * the keyed cell equi-join, dedupe multi-assignment collisions,
    * exact-cosine rerank, top-10.
    */
  private[graft] def ivfTopk(s: SparkSession, d: String): DataFrame = {
    val el = elems(s, d).cache()
    val init = Tables.embeddings(s, d)
      .select(col("vec_id"), (col("label") % IvfCells).cast(IntegerType).as("cell"))
    val trained = meansOf(el, cellsOf(scoresOf(el, meansOf(el, init)), 1))
    // consumed by cell assignment AND probe selection — cache so
    // the training lineage runs once, not per consumer
    val sc = scoresOf(el, trained).cache()
    val cells = cellsOf(sc, IvfAssign)
    val probes = sc
      .filter(col("vec_id") < 8)
      .withColumn(
        "pr",
        row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("cell"))))
      .filter(col("pr") <= IvfProbes)
      .select(col("vec_id").as("query_id"), col("cell"))
    val cands = probes
      .join(cells, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      // a candidate sharing BOTH probed cells with the query would
      // otherwise score twice (multi-assignment duplicates)
      .select(col("query_id"), col("vec_id").as("cand_id"))
      .distinct()
    val pairDots = cands
      .join(el.as("a"), col("query_id") === col("a.vec_id"))
      .join(el.as("b"), col("cand_id") === col("b.vec_id") && col("a.pos") === col("b.pos"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum((col("a.x") * col("b.x")).cast(Acc)).cast("double").as("dot"))
    val n = normsOf(el)
    pairDots
      .join(n.as("na"), col("query_id") === col("na.vec_id"))
      .join(n.as("nb"), col("cand_id") === col("nb.vec_id"))
      .select(col("query_id"), col("cand_id"), cosine(col("dot"), col("na.norm"), col("nb.norm")).as("cos"))
      .withColumn(
        "rnk",
        row_number()
          .over(Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id")))
          .cast(IntegerType))
      .filter(col("rnk") <= 10)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** SQ8 top-k: int8 code scan + decimal-exact shortlist rerank (the
    * q139 plan).
    */
  private[graft] def sq8Topk(s: SparkSession, d: String): DataFrame =
    sq8TopkWhere(s, d, None)

  /** [[sq8Topk]] with an optional candidate-side metadata filter (the
    * q192 plan — "filtered vector search"): `allowed` is a (vec_id)
    * relation of permitted candidates, applied as a broadcast LEFT-SEMI
    * join onto the int8 CODE scan BEFORE candidate scoring
    * (pre-filtering). Order matters for both recall and cost: the
    * shortlist is drawn from filtered candidates only — so the query
    * always returns k results and never silently loses true neighbors
    * the way post-filtering a fixed unfiltered shortlist does — and the
    * filter discards candidates while they are still 1-byte codes,
    * before any full-precision work. Queries themselves are never
    * filtered (a query vector needn't satisfy its own predicate).
    */
  private[graft] def sq8TopkWhere(
      s: SparkSession, d: String, allowed: Option[DataFrame]): DataFrame = {
    val el = elems(s, d).cache()
    val scales = el.groupBy(col("pos")).agg(max(abs(col("x"))).as("scale"))
    val codes = el
      .join(broadcast(scales), Seq("pos"))
      .select(
        col("vec_id"), col("pos"),
        when(col("scale") === 0.0, 0)
          .otherwise(floor(col("x") / col("scale") * 127.0 + 0.5).cast(IntegerType))
          .as("code"))
      .cache()
    // membership = broadcast left-semi join, never a collected isin
    val cand = allowed.fold(codes)(a =>
      codes.join(broadcast(a), Seq("vec_id"), "left_semi"))
    val qdots = codes.as("a")
      .filter(col("vec_id") < 8)
      .join(cand.as("b"),
        col("a.pos") === col("b.pos") && col("a.vec_id") =!= col("b.vec_id"))
      .groupBy(col("a.vec_id").as("query_id"), col("b.vec_id").as("cand_id"))
      .agg(sum(col("a.code").cast("long") * col("b.code")).as("qdot"))
    val shortlist = qdots
      .withColumn(
        "srn",
        row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("qdot").desc, col("cand_id"))))
      .filter(col("srn") <= SqShortlist)
      .select(col("query_id"), col("cand_id"))
    exactRerank(el, shortlist)
  }

  /** Exact-rerank tail shared by the quantized ANN paths (SQ8 q139,
    * filtered q192, PQ q191): full-precision decimal dots over the
    * broadcast (query_id, cand_id) shortlist, 6-dp cosine, top-10 with
    * the (cos DESC, cand_id) tiebreak — identical contract to q51.
    */
  private[graft] def exactRerank(el: DataFrame, shortlist: DataFrame): DataFrame = {
    val pairDots = broadcast(shortlist)
      .join(el.as("a"), col("query_id") === col("a.vec_id"))
      .join(el.as("b"), col("cand_id") === col("b.vec_id") && col("a.pos") === col("b.pos"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum((col("a.x") * col("b.x")).cast(Acc)).cast("double").as("dot"))
    val n = normsOf(el)
    // pairDots is shortlist-sized (queries × depth rows) — hint it (and
    // the equally-small first-join result) explicitly so BOTH norm
    // joins are STRUCTURALLY broadcast-hash, not dependent on
    // autoBroadcastJoinThreshold picking them up (PlanSpec pins
    // no-SMJ/SHJ on the q199 serve plan; a pin that only holds under a
    // config default is not a pin)
    broadcast(broadcast(pairDots).join(n.as("na"), col("query_id") === col("na.vec_id")))
      .join(n.as("nb"), col("cand_id") === col("nb.vec_id"))
      .select(col("query_id"), col("cand_id"), cosine(col("dot"), col("na.norm"), col("nb.norm")).as("cos"))
      .withColumn(
        "rnk",
        row_number()
          .over(Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id")))
          .cast(IntegerType))
      .filter(col("rnk") <= 10)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** PQ (product quantization, Jégou et al. 2011) configuration: the
    * 64-dim corpus splits into [[PqM]] subspaces of [[PqSubDim]] dims;
    * each subspace learns [[PqK]] codewords by [[PqIters]] deterministic
    * Lloyd rounds (exact decimal distances, explicit (dist, codeword)
    * tiebreak — the q76 IVF training discipline applied per subspace),
    * so a vector compresses to 8 nibbles and the DuckDB oracle replays
    * TRAINING, ENCODING, and the ADC scan bit-for-bit.
    */
  private val PqSubDim = 8
  private val PqK = 32
  private val PqIters = 2

  /** Exact-rerank depth for the PQ path — deeper than SQ8's 32 because
    * 5-bit-per-subspace quantization is lossier than 8-bit-per-dim, and
    * this synthetic corpus is near-structureless (overlapping blobs —
    * the same property that bounds q76's IVF recall), so codebooks
    * carry less signal than they would on real embeddings. Measured
    * recall@10 vs exact q51 at (K=32, shortlist=96): 0.85 at sf0.001,
    * 0.90 at sf0.01 (gated ≥0.8 in NativeFnSpec); the swept
    * alternatives (K=16 short=48 → 0.625, K=32 short=48 → 0.73) sit
    * below the IVF family's floor.
    */
  private[graft] val PqShortlist = 96

  /** Serve-path (q196) rerank depth. A codebook FROZEN on the standing
    * bucket quantizes delta/drifted vectors worse than q191's
    * in-query-trained one — measured recall@10 at sf0.1: 0.74 trained
    * vs 0.66 frozen at the shared depth 96. Deepening the exact rerank
    * is the standard compensation (the faiss `refine` discipline):
    * serve-time cost grows only in the shortlist×dim rerank term (the
    * ADC scan, the corpus-sized cost, is untouched), and recall at
    * sf0.1 recovers to 0.8125 — ABOVE the trained path's 0.7375@96, so
    * the depth, not the codebook, was the binding constraint on this
    * corpus (NativeFnSpec gates both paths ≥0.70 plus a 10× shifted-
    * copy drift fixture at 0.9625).
    */
  private[graft] val PqServeShortlist = 160

  /** Element table with the subspace id: m = pos / [[PqSubDim]]. */
  private[graft] def pqElems(s: SparkSession, d: String): DataFrame =
    elems(s, d).withColumn("m", (col("pos") / PqSubDim).cast(IntegerType))

  /** One deterministic PQ assignment pass: nearest codeword per
    * (vector, subspace) under exact decimal L2², tiebreak to the lower
    * codeword id. The codebook (PqM·PqK·PqSubDim = 1024 rows) always
    * broadcasts; the argmin is a k-bounded window per (vector,
    * subspace).
    */
  private[graft] def pqAssign(el: DataFrame, cent: DataFrame): DataFrame =
    el.join(broadcast(cent), Seq("m", "pos"))
      .groupBy(col("vec_id"), col("m"), col("c"))
      .agg(sum(((col("x") - col("cx")) * (col("x") - col("cx"))).cast(Acc)).as("dist"))
      // argmin as min(struct(dist, c)) — identical (dist ASC, c ASC)
      // winner to the former rank-1 window. TopKRewrite was already
      // rewriting that window into a bounded graft_top_k aggregate, so
      // the exchange count is unchanged; the declarative min(struct)
      // states the single-winner reduction directly (plain partial-
      // aggregable min, no typed top-k buffer, no rewrite-rule
      // dependence) — r17 A/B 4.65 → 4.38 s, within session noise
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist"), col("c"))).as("b"))
      .select(col("vec_id"), col("m"), col("b.c").as("c"))

  /** PQ top-k (the q191 plan): train per-subspace codebooks (exact
    * decimal Lloyd from the deterministic vec_id%K init, empty
    * codewords carried forward), encode every vector as PqM codes, then
    * answer queries by ADC — per query, the 8×16×8 dot-product table
    * against the codebook is precomputed ONCE (decimal-exact) and every
    * candidate's approximate dot is the sum of its PqM table lookups:
    * 8 joined rows per candidate instead of SQ8's 64 element rows, the
    * compression that makes billion-vector scans feasible. Shortlist →
    * full-precision rerank, same contract as q51/q139. At corpus scale
    * the codes relation is the only per-candidate state (4 bits ×
    * subspace), the table lookup join broadcasts (dt is queries×128
    * rows), and training cost amortizes like any standing index.
    */
  /** The TRAINING half of [[pqTopk]]: [[PqIters]] deterministic Lloyd
    * rounds over `trainEl` from the vec_id%K init, returning the final
    * codebook (c, m, pos, cx). Exposed separately so the standing
    * index ([[pqIndex]]) can freeze a codebook trained on the standing
    * bucket while q191 keeps its full-corpus in-query training.
    */
  private[graft] def pqTrain(trainEl: DataFrame): DataFrame = {
    var cent = trainEl
      .groupBy((col("vec_id") % PqK).cast(IntegerType).as("c"), col("m"), col("pos"))
      .agg((sum(col("x").cast(Acc)).cast("double") / count(lit(1)).cast("double")).as("cx"))
      .localCheckpoint(true)
    for (_ <- 1 to PqIters) {
      val codes = pqAssign(trainEl, cent)
      val stats = trainEl.join(codes, Seq("vec_id", "m"))
        .groupBy(col("c"), col("m"), col("pos"))
        .agg(sum(col("x").cast(Acc)).as("sx"), count(lit(1)).as("n"))
      cent = cent
        .join(stats, Seq("c", "m", "pos"), "left")
        .select(col("c"), col("m"), col("pos"),
          when(col("n").isNotNull, col("sx").cast("double") / col("n").cast("double"))
            .otherwise(col("cx")).as("cx"))
        .localCheckpoint(true)
    }
    cent
  }

  /** The SERVING half shared by q191/q196/q199: ADC tables for the 8
    * query vectors against `cent`, candidate sums over `codes`,
    * shortlist, exact rerank. `cand` (query_id, cand_id), when given,
    * restricts the ADC scan to a pre-pruned candidate set (q199's IVF
    * cell shortlist) — the code rows of unprobed candidates are
    * dropped by the equi-join BEFORE any table lookups, so the scan
    * cost is candidates×PqM rows instead of corpus×PqM×queries. When
    * `candBroadcast` is set the candidate set BROADCASTS into that
    * join, keeping the serve path free of corpus-wide join exchanges
    * (a shuffled cand⋈codes join was measurably the cost that ate the
    * pruning's saving at sf10: 9.90 s vs q196's unpruned 8.65 s in
    * the same session). The caller owns the gate because cand is
    * queries × (probes·assign/cells) × corpus two-int rows — with
    * this implementation's FIXED [[IvfCells]]=5 the probed fraction
    * is pinned ~0.69, so cand grows LINEARLY with the corpus (~1.1 M
    * rows at sf10) and an unconditional broadcast would eventually
    * hit driver memory and Spark's 8 GB broadcast limit; only a
    * deployment that grows the cell count ~√N keeps the fraction
    * shrinking. [[ivfPqServe]] gates
    * on the estimated cand bytes and falls back to a shuffled join
    * past the threshold.
    */
  private[graft] def pqAdcTopk(el: DataFrame, cent: DataFrame, codes: DataFrame,
      shortlistDepth: Int = PqShortlist, cand: Option[DataFrame] = None,
      candBroadcast: Boolean = true): DataFrame = {
    val dt = el.filter(col("vec_id") < 8)
      .join(broadcast(cent), Seq("m", "pos"))
      .groupBy(col("vec_id").as("query_id"), col("m"), col("c"))
      .agg(sum((col("x") * col("cx")).cast(Acc)).as("adp"))
    val adc = cand.fold(
      codes
        .join(broadcast(dt), Seq("m", "c"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumnRenamed("vec_id", "cand_id"))(cd =>
      codes.join(if (candBroadcast) broadcast(cd) else cd,
          cd("cand_id") === codes("vec_id"))
        .join(broadcast(dt), Seq("query_id", "m", "c"))
        .drop("vec_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("adp")).as("adc"))
    val shortlist = adc
      .withColumn(
        "srn",
        row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("cand_id"))))
      .filter(col("srn") <= shortlistDepth)
      .select(col("query_id"), col("cand_id"))
    exactRerank(el, shortlist)
  }

  private[graft] def pqTopk(s: SparkSession, d: String): DataFrame = {
    val el = pqElems(s, d).cache()
    val cent = pqTrain(el)
    pqAdcTopk(el, cent, pqAssign(el, cent))
  }

  /** Standing/delta split for the PQ index lifecycle: ~90% of vectors
    * form the standing bucket the codebook is trained on; the
    * md5-hash-selected ~10% arrive as the delivery's delta (the
    * q179/q165 convention applied to vectors).
    */
  private[graft] def pqStanding: Column =
    graft.functions.TextFns.h60(
      concat(lit("v"), col("vec_id").cast("string"))) % 10 =!= 0

  /** The FROZEN PQ index (q196): codebook trained on the standing
    * bucket + the standing bucket's codes, committed once per dataset
    * and published cross-JVM via [[graft.IndexStore]] (Prebuild-
    * registered) — the tokenizer-deployment discipline (q179) applied
    * to vector search: training is an ETL-tier cost a deployment
    * amortizes; serving encodes only the delta against the pinned
    * codebook.
    */
  private[graft] def pqIndex(s: SparkSession, d: String): (String, String) = {
    val parts = graft.IndexStore.resolve(s, "pq_index", 1, d, Seq("embeddings.parquet")) {
      dirOf =>
        val standingEl = pqElems(s, d).filter(pqStanding).cache()
        val cent = pqTrain(standingEl)
        Map(
          "codebook" -> Snapshots.commit(cent, dirOf("codebook"), replace = true),
          "codes" -> Snapshots.commit(
            pqAssign(standingEl, cent), dirOf("codes"), replace = true))
    }
    (parts("codebook"), parts("codes"))
  }

  /** The FROZEN IVF-PQ index (q199 — faiss IVFADC's composition,
    * Jégou et al. 2011 §IV, on the existing pieces): ONE standing
    * artifact holding both layers — the IVF coarse quantizer (q76's
    * training: per-label exact-mean init + one Lloyd round, here over
    * the standing bucket) with its posting lists, AND the PQ codebook
    * (q191's training, same bucket) with the standing codes. Serving
    * prunes cells FIRST and ADC-scans only the probed cells' codes —
    * the composition that makes billion-vector ANN affordable: q196's
    * unpruned ADC scan is corpus-sized per query; here the scan is
    * (probed fraction)×corpus, and at real scale (cell count grows
    * ~√N, fixed nprobe) that fraction keeps shrinking. No residual
    * encoding (faiss IVFADC quantizes x − centroid; this corpus's
    * overlapping blobs make centroids nearly collinear, so residuals
    * buy no measurable recall here and a raw-vector codebook keeps the
    * oracle the exact q191 chain) — the pruning, not the residual, is
    * the scale lever. Both trainings replay in the DuckDB oracle, so
    * the whole two-layer index stays hash-gated.
    */
  private[graft] def ivfPqIndex(s: SparkSession, d: String): Map[String, String] =
    graft.IndexStore.resolve(s, "ivfpq_index", 1, d, Seq("embeddings.parquet")) {
      dirOf =>
        val sel = pqElems(s, d).filter(pqStanding).cache()
        val init = Tables.embeddings(s, d)
          .filter(pqStanding)
          .select(col("vec_id"), (col("label") % IvfCells).cast(IntegerType).as("cell"))
        // q76's training discipline on the standing bucket: init
        // means -> argmax reassign -> refined means. Scoring only
        // standing vectors during training equals the oracle's
        // score-everyone-then-join-standing (assignment is per-vector)
        val trained = ivfTrain(sel, init).localCheckpoint(true)
        val cent = pqTrain(sel)
        Map(
          "ivf_cent" -> Snapshots.commit(trained, dirOf("ivf_cent"), replace = true),
          "ivf_cells" -> Snapshots.commit(
            ivfAssignCells(sel, trained), dirOf("ivf_cells"), replace = true),
          "codebook" -> Snapshots.commit(cent, dirOf("codebook"), replace = true),
          "codes" -> Snapshots.commit(
            pqAssign(sel, cent), dirOf("codes"), replace = true))
    }

  /** q76's IVF training chain, callable on any element frame: init
    * means → argmax reassign → refined means.
    */
  private[graft] def ivfTrain(sel: DataFrame, init: DataFrame): DataFrame =
    meansOf(sel, cellsOf(scoresOf(sel, meansOf(sel, init)), 1))

  /** Top-`top` cell assignment under a trained coarse quantizer. */
  private[graft] def ivfAssignCells(
      el: DataFrame, cents: DataFrame, top: Int = IvfAssign): DataFrame =
    cellsOf(scoresOf(el, cents), top)

  /** The query half of q199, index parts already in hand: probe the
    * [[IvfProbes]] best cells per query, gather candidates from the
    * posting-list equi-join, ADC-scan only those candidates' codes,
    * exact-rerank at [[PqServeShortlist]] — the frozen-codebook depth
    * q196 established.
    */
  private[graft] def ivfPqServeCore(elp: DataFrame, cents: DataFrame,
      cent: DataFrame, cells: DataFrame, codes: DataFrame,
      candBroadcast: Boolean = true): DataFrame = {
    val probes = cellsOf(scoresOf(elp.filter(col("vec_id") < 8), cents), IvfProbes)
      .select(col("vec_id").as("query_id"), col("cell"))
    // probes is queries×nprobe rows — broadcast it into the posting
    // lists so the prune is a streamed scan of `cells`, not a shuffle
    val cand = cells
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"))
      .distinct()
    pqAdcTopk(elp, cent, codes, PqServeShortlist, Some(cand), candBroadcast)
  }

  /** Gate for broadcasting the q199 candidate shortlist (see
    * [[pqAdcTopk]]): estimated cand bytes = queries × probed fraction
    * × corpus rows × 16 B, with corpus rows read from the embeddings
    * relation's Catalyst size stat (no job — the [[annArm]]
    * discipline; ~300 B per embedding row). Under the threshold
    * (512 MB — comfortably inside driver memory and far from Spark's
    * 8 GB broadcast hard limit) the exchange-free broadcast serve plan
    * holds; past it the join falls back to a shuffle and AQE plans it
    * — correctness is unchanged either way.
    */
  private val CandBroadcastMaxBytes = 512L << 20

  private def candBroadcastOk(s: SparkSession, d: String): Boolean = {
    val embBytes = Tables.embeddings(s, d).queryExecution.optimizedPlan.stats.sizeInBytes
    val frac = math.min(1.0, IvfProbes.toDouble * IvfAssign / IvfCells)
    val candBytesEst = BigInt((embBytes.toDouble / 300.0 * 8 * frac * 16).toLong)
    candBytesEst <= CandBroadcastMaxBytes
  }

  /** q199's serve path: frozen two-layer index + delta, prune-then-scan.
    * The delivery's ~10% delta is assigned to its [[IvfAssign]] cells
    * and PQ-encoded against the frozen artifacts (pure functions of the
    * index — the q196 argument, applied to both layers), then
    * [[ivfPqServeCore]] answers from the merged posting lists/codes.
    */
  private[graft] def ivfPqServe(s: SparkSession, d: String): DataFrame = {
    val parts = ivfPqIndex(s, d)
    val cents = Snapshots.read(s, parts("ivf_cent"))
    val cent = Snapshots.read(s, parts("codebook"))
    val elp = pqElems(s, d).cache()
    val delta = elp.filter(!pqStanding)
    val cells = Snapshots.read(s, parts("ivf_cells"))
      .unionByName(ivfAssignCells(delta, cents))
    val codes = Snapshots.read(s, parts("codes"))
      .unionByName(pqAssign(delta, cent))
    ivfPqServeCore(elp, cents, cent, cells, codes, candBroadcastOk(s, d))
  }

  /** One PQ Lloyd round in DuckDB: distances → argmin assignment →
    * per-codeword sums → new codebook with the carry-forward arm. Every
    * CTE is AS MATERIALIZED — each is referenced by the next round AND
    * the fallback arm, the DuckDB-1.0 inlining hazard class.
    */
  private def pqRoundSql(i: Int, src: String): String = s"""pqd$i AS MATERIALIZED (SELECT e.vec_id, e.m, c.c,
             SUM(CAST((e.x - c.cx)*(e.x - c.cx) AS DECIMAL(38,12))) AS dist
           FROM $src e JOIN pqc${i - 1} c ON e.m = c.m AND e.pos = c.pos
           GROUP BY 1, 2, 3),
        pqa$i AS MATERIALIZED (SELECT vec_id, m, c FROM (
             SELECT vec_id, m, c,
                    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
             FROM pqd$i) WHERE rn = 1),
        pqs$i AS MATERIALIZED (SELECT a.c, e.m, e.pos,
             SUM(CAST(e.x AS DECIMAL(38,12))) AS sx, COUNT(*) AS n
           FROM $src e JOIN pqa$i a ON e.vec_id = a.vec_id AND e.m = a.m
           GROUP BY 1, 2, 3),
        pqc$i AS MATERIALIZED (SELECT p.c, p.m, p.pos,
             CASE WHEN s.n IS NOT NULL THEN CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE)
                  ELSE p.cx END AS cx
           FROM pqc${i - 1} p LEFT JOIN pqs$i s
             ON p.c = s.c AND p.m = s.m AND p.pos = s.pos)"""

  /** Oracle chain shared by q191/q196: training (init means,
    * [[PqIters]] Lloyd rounds) over `trainSrc`, encoding of EVERY
    * vector against the final codebook, the ADC table + candidate
    * sums, shortlist, and exact rerank — all in the decimal-exact
    * arithmetic both engines compute identically. q191 trains on the
    * full corpus (`elp`); q196 trains on the standing bucket (`elps`,
    * injected via `extraCte`) and encoding-everyone then equals
    * "pinned standing codes ∪ frozen-codebook delta encode".
    */
  private def pqOracleSqlFor(trainSrc: String, extraCte: String,
      shortlistDepth: Int = PqShortlist, candJoin: String = ""): String = s"""
        WITH $elemsSql,
        $normsSql,
        elp AS (SELECT vec_id, pos, x, CAST(pos // $PqSubDim AS INT) AS m FROM el),
        $extraCte
        pqc0 AS MATERIALIZED (SELECT CAST(vec_id % $PqK AS INT) AS c, m, pos,
             CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cx
           FROM $trainSrc GROUP BY 1, 2, 3),
        ${pqRoundSql(1, trainSrc)},
        ${pqRoundSql(2, trainSrc)},
        pqdF AS MATERIALIZED (SELECT e.vec_id, e.m, c.c,
             SUM(CAST((e.x - c.cx)*(e.x - c.cx) AS DECIMAL(38,12))) AS dist
           FROM elp e JOIN pqc$PqIters c ON e.m = c.m AND e.pos = c.pos
           GROUP BY 1, 2, 3),
        kcodes AS MATERIALIZED (SELECT vec_id, m, c FROM (
             SELECT vec_id, m, c,
                    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
             FROM pqdF) WHERE rn = 1),
        dt AS (SELECT e.vec_id AS query_id, c.m, c.c,
                    SUM(CAST(e.x * c.cx AS DECIMAL(38,12))) AS adp
             FROM elp e JOIN pqc$PqIters c ON e.m = c.m AND e.pos = c.pos
             WHERE e.vec_id < 8
             GROUP BY 1, 2, 3),
        adc AS (SELECT d.query_id, k.vec_id AS cand_id, SUM(d.adp) AS adc
             FROM kcodes k JOIN dt d ON k.m = d.m AND k.c = d.c
             $candJoin
             WHERE k.vec_id != d.query_id
             GROUP BY 1, 2),
        short AS (SELECT query_id, cand_id FROM (
             SELECT query_id, cand_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, cand_id) AS srn
             FROM adc) WHERE srn <= $shortlistDepth),
        pdots AS (SELECT s.query_id, s.cand_id,
                    CAST(SUM(CAST(a.x*b.x AS DECIMAL(38,12))) AS DOUBLE) AS dot
             FROM short s
             JOIN el a ON s.query_id = a.vec_id
             JOIN el b ON s.cand_id = b.vec_id AND a.pos = b.pos
             GROUP BY 1, 2),
        scored AS (SELECT d.query_id, d.cand_id,
                    ROUND(d.dot / (na.norm * nb.norm), 6) AS cos
             FROM pdots d
             JOIN norms na ON d.query_id = na.vec_id
             JOIN norms nb ON d.cand_id = nb.vec_id)
        SELECT query_id, cand_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INT) AS rnk
        FROM scored
        QUALIFY rnk <= 10
        ORDER BY query_id, rnk"""

  private val pqOracleSql: String = pqOracleSqlFor("elp", "")

  /** q196's oracle: the identical chain trained on the standing
    * bucket only — since assignment is a pure function of the frozen
    * codebook, "encode everyone against pqc2" equals "pinned standing
    * codes ∪ delta encoded at delivery time".
    */
  private val pqServeOracleSql: String = pqOracleSqlFor(
    "elps",
    s"""elps AS (SELECT * FROM elp
           WHERE ${graft.functions.TextFns.Sql.h60("'v' || CAST(vec_id AS VARCHAR)")} % 10 != 0),""",
    PqServeShortlist)

  /** q199's oracle: the q196 standing-bucket PQ chain with the IVF
    * layer's training replayed on the same bucket (q76's CTE rounds,
    * means drawn from `elps`) and the ADC scan restricted to the
    * probed cells' members through `candJoin`. Since both cell
    * assignment and PQ encoding are pure functions of the frozen
    * artifacts, assign/encode-everyone here equals "pinned standing
    * rows ∪ frozen-artifact delta" on the Spark side.
    */
  private val ivfPqOracleSql: String = {
    val standing =
      s"${graft.functions.TextFns.Sql.h60("'v' || CAST(vec_id AS VARCHAR)")} % 10 != 0"
    pqOracleSqlFor(
      "elps",
      s"""elps AS (SELECT * FROM elp WHERE $standing),
        lab AS (SELECT vec_id, CAST(label % $IvfCells AS INT) AS cell
                FROM embeddings WHERE $standing),
        ${ivfRoundSql(0, "lab", "elps")},
        a0 AS (SELECT vec_id, cell FROM (
                 SELECT vec_id, cell,
                        row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
                 FROM s0)
               WHERE rn = 1),
        ${ivfRoundSql(1, "a0", "elps")},
        cells AS (SELECT vec_id, cell FROM (
                    SELECT vec_id, cell,
                           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
                    FROM s1)
                  WHERE rn <= $IvfAssign),
        probes AS (SELECT vec_id AS query_id, cell FROM (
                     SELECT vec_id, cell,
                            row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS pr
                     FROM s1 WHERE vec_id < 8)
                   WHERE pr <= $IvfProbes),
        cand AS (SELECT DISTINCT p.query_id, c.vec_id AS cand_id
                 FROM probes p JOIN cells c ON p.cell = c.cell AND c.vec_id != p.query_id),""",
      PqServeShortlist,
      "JOIN cand cn ON cn.query_id = d.query_id AND cn.cand_id = k.vec_id")
  }

  private val BruteMax = 32L << 20
  private val Sq8Max = 4L << 30

  /** Which arm [[annTopk]] would run for this dataset, by the bytes of
    * the embeddings relation (Catalyst plan statistics — no job). The
    * default thresholds encode the cost classes:
    *  - ≤ `bruteMax` (default 32 MB): exact brute force — at this
    *    size the pos-join scan is cheaper than any index build and
    *    the answer is exact;
    *  - ≤ `sq8Max` (default 4 GB): SQ8 — the 1-byte/dim code scan
    *    keeps the candidate pass 4× lighter with no standing index;
    *  - above: IVF — at corpus scale only a cell-bucketed candidate
    *    join avoids scanning everything per query, worth the trained
    *    quantizer it requires.
    */
  private[graft] def annArm(s: SparkSession, d: String,
      bruteMax: Long = BruteMax, sq8Max: Long = Sq8Max): String = {
    val bytes = Tables.embeddings(s, d)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= bruteMax) "brute" else if (bytes <= sq8Max) "sq8" else "ivf"
  }

  /** ONE user-facing ANN entry point (the AsOf.auto pattern applied
    * to similarity search): cosine top-10 for the 8 query vectors,
    * formulation picked by corpus size via [[annArm]]. All three arms
    * produce the identical (query_id, cand_id, cos, rnk) contract and
    * each is independently hash-gated (q51/q76/q139 + the q184
    * three-arm dispatch query); NativeFnSpec pins the boundary.
    */
  def annTopk(s: SparkSession, d: String,
      bruteMax: Long = BruteMax, sq8Max: Long = Sq8Max): DataFrame =
    annArm(s, d, bruteMax, sq8Max) match {
      case "brute" => bruteTopk(s, d)
      case "sq8"   => sq8Topk(s, d)
      case _       => ivfTopk(s, d)
    }

  val all: Seq[Q] = Seq(
    // embedding-cosine near-dup pairs (brute force over pos-join; the
    // verified-correct baseline the LSH variant is judged against)
    Q(
      "q50_embedding_neardup",
      (s, d) => {
        val el = elems(s, d).cache()
        val dots = el.as("a")
          .join(el.as("b"), col("a.pos") === col("b.pos") && col("a.vec_id") < col("b.vec_id"))
          .groupBy(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
          .agg(sum((col("a.x") * col("b.x")).cast(Acc)).cast("double").as("dot"))
        val n = normsOf(el)
        dots
          .join(n.as("na"), col("vec_a") === col("na.vec_id"))
          .join(n.as("nb"), col("vec_b") === col("nb.vec_id"))
          .select(col("vec_a"), col("vec_b"), cosine(col("dot"), col("na.norm"), col("nb.norm")).as("cos"))
          .filter(col("cos") >= 0.35)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some(s"""
        WITH $elemsSql,
        $normsSql,
        dots AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                        CAST(SUM(CAST(a.x*b.x AS DECIMAL(38,12))) AS DOUBLE) AS dot
                 FROM el a JOIN el b ON a.pos = b.pos AND a.vec_id < b.vec_id
                 GROUP BY a.vec_id, b.vec_id)
        SELECT vec_a, vec_b, cos FROM (
          SELECT d.vec_a, d.vec_b, ROUND(d.dot / (na.norm * nb.norm), 6) AS cos
          FROM dots d
          JOIN norms na ON d.vec_a = na.vec_id
          JOIN norms nb ON d.vec_b = nb.vec_id)
        WHERE cos >= 0.35
        ORDER BY vec_a, vec_b"""),
      // oracle-gated but OUT of the bench headline lane: the all-pairs
      // pos-join is O(n²) in corpus size BY DESIGN — it is the declared
      // correctness anchor the ANN paths (q52/q53 LSH, q76 IVF, q139
      // SQ8 — all benched) are recall-judged against, not a plan a user
      // runs at scale. Benching it charged ~10% of suite wall-time to a
      // query whose cost class the suite already rejects, and the
      // charge grows quadratically with every corpus regeneration.
      bench = false
    ),

    // brute-force cosine top-k: 8 query vectors against the full corpus
    Q("q51_cosine_topk", (s, d) => bruteTopk(s, d), Some(topkOracleSql)),

    // random-hyperplane LSH bucketing (12-bit signature via integer LCG)
    Q(
      "q52_lsh_buckets",
      (s, d) => {
        lshBuckets(s, d)
          .withColumn("bucket_size", count(lit(1)).over(Window.partitionBy(col("bucket"))))
          .orderBy(col("vec_id"))
      },
      Some(s"""
        WITH $elemsSql,
        $lshSql
        SELECT vec_id, bucket,
               CAST(COUNT(*) OVER (PARTITION BY bucket) AS BIGINT) AS bucket_size
        FROM b ORDER BY vec_id""")
    ),

    // ANN near-dup at scale: exact cosine only within an LSH bucket
    Q(
      "q53_lsh_neardup",
      (s, d) => {
        val b = lshBuckets(s, d)
          // skew guard: drop degenerate buckets before the self-join
          // (window key == join key — no extra shuffle)
          .withColumn("bn", count(lit(1)).over(Window.partitionBy(col("bucket"))))
          .filter(col("bn") <= MaxBucket)
          .drop("bn")
          .cache()
        val cands = b.as("x")
          .join(b.as("y"), col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
        val el = elems(s, d).cache()
        val dots = cands
          .join(el.as("a"), col("vec_a") === col("a.vec_id"))
          .join(el.as("b"), col("vec_b") === col("b.vec_id") && col("a.pos") === col("b.pos"))
          .groupBy(col("vec_a"), col("vec_b"))
          .agg(sum((col("a.x") * col("b.x")).cast(Acc)).cast("double").as("dot"))
        val n = normsOf(el)
        dots
          .join(n.as("na"), col("vec_a") === col("na.vec_id"))
          .join(n.as("nb"), col("vec_b") === col("nb.vec_id"))
          .select(col("vec_a"), col("vec_b"), cosine(col("dot"), col("na.norm"), col("nb.norm")).as("cos"))
          .filter(col("cos") >= 0.3)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some(s"""
        WITH $elemsSql,
        $normsSql,
        $lshSql,
        sizedb AS (SELECT vec_id, bucket FROM (
                     SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS bn FROM b)
                   WHERE bn <= $MaxBucket),
        cand AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
                 FROM sizedb x JOIN sizedb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
        dots AS (SELECT c.vec_a, c.vec_b,
                        CAST(SUM(CAST(a.x*bb.x AS DECIMAL(38,12))) AS DOUBLE) AS dot
                 FROM cand c
                 JOIN el a ON c.vec_a = a.vec_id
                 JOIN el bb ON c.vec_b = bb.vec_id AND a.pos = bb.pos
                 GROUP BY c.vec_a, c.vec_b)
        SELECT vec_a, vec_b, cos FROM (
          SELECT d.vec_a, d.vec_b, ROUND(d.dot / (na.norm * nb.norm), 6) AS cos
          FROM dots d
          JOIN norms na ON d.vec_a = na.vec_id
          JOIN norms nb ON d.vec_b = nb.vec_id)
        WHERE cos >= 0.3
        ORDER BY vec_a, vec_b""")
    ),

    // native-Expression ANN path, gated on the SAME oracle as q51: the
    // codegen'd kernel must reproduce the decimal-exact cosines after
    // 6-decimal rounding, not just the ranking (NativeFnSpec pins the
    // ranking equality too)
    Q("q64_native_topk", (s, d) => nativeTopk(s, d), Some(topkOracleSql)),

    // IVF ANN with a LEARNED coarse quantizer: per-label exact means
    // initialize the centroids and one exact Lloyd iteration refines
    // them (see [[meansOf]]/[[scoresOf]] — training is deterministic
    // arithmetic, so the DuckDB oracle replays it and the whole index
    // stays hash-gated). Every vector then indexes into its
    // [[IvfAssign]] nearest trained cells and each query searches its
    // [[IvfProbes]] best cells with exact cosine. At corpus scale
    // candidates come from a keyed equi-join on cell id — the shuffle
    // carries corpus × assign × (probes/cells) rows, never corpus²; the
    // centroid matrix (k × dim) broadcasts exactly as a trained
    // quantizer would.
    Q("q76_ivf_topk", (s, d) => ivfTopk(s, d), Some(ivfOracleSql)),

    // Int8 scalar quantization (the FAISS SQ8 layout, a public
    // technique): per-dimension symmetric scale = max |x| over the
    // corpus, code = round-half-up(x/scale × 127) ∈ [-127, 127]. The
    // candidate pass ranks on the INTEGER code dot — exact arithmetic,
    // so the whole query stays hash-gated, unlike engine-native float
    // ANN — and only the [[SqShortlist]]-deep shortlist touches the
    // full-precision vectors for the decimal-exact rerank (the q51
    // math). Scale story: codes are 1 byte/dim vs 4, so the scan and
    // the candidate shuffle carry 4× less than brute force, and the
    // expensive exact pass is bounded at shortlist × queries rows; the
    // scale row (one value per dimension) broadcasts like any trained
    // quantizer. Guard: an all-zero dimension quantizes to code 0, not
    // NaN.
    Q("q139_sq8_topk", (s, d) => sq8Topk(s, d), Some(sq8OracleSql)),

    // Product quantization (q191): the 4-bits-per-subspace tier of the
    // quantized-ANN family — SQ8 compresses 4× (1 byte/dim), PQ
    // compresses 32× (PqM codes per vector), which is what a
    // billion-vector corpus actually ships to its scan tier. Training,
    // encoding, the ADC table scan, and the exact rerank all replay in
    // the oracle (decimal distances, explicit tiebreaks), so the whole
    // learned index is hash-gated like q76's IVF.
    Q("q191_pq_topk", (s, d) => pqTopk(s, d), Some(pqOracleSql)),

    // PQ quality CERTIFICATE (q195 — the q57/q71/q114 discipline
    // applied to the quantized-ANN tier): recall@10 of the PQ path
    // against the exact brute-force arm, both recomputed inside the
    // query AND replayed by the oracle, with the bound as a hashed
    // boolean — if PQ recall ever drops below 0.70 (the floor across
    // all gated SFs: measured 0.85/0.90/0.74 at sf0.001/0.01/0.1) the
    // hash gate itself fails, not just a spec. recall_micro is the
    // exact integer micro-rational (hits·1e6 div pairs), so the
    // certificate can never flip between engines.
    Q(
      "q195_pq_certificate",
      (s, d) => {
        // ONE cached element pipeline feeds BOTH arms (formerly pqTopk
        // and bruteTopk each cached their own scan/explode/repartition)
        val el = pqElems(s, d).cache()
        val cent = pqTrain(el)
        val pq = pqAdcTopk(el, cent, pqAssign(el, cent))
          .select(col("query_id"), col("cand_id"))
        val ex = bruteTopkOf(el)
          .select(col("query_id").as("eq"), col("cand_id").as("ec"))
        pq.join(ex,
            col("query_id") === col("eq") && col("cand_id") === col("ec"), "left")
          .agg(
            count(lit(1)).as("n_pairs"),
            sum(when(col("eq").isNotNull, 1L).otherwise(0L)).as("n_hits"))
          .select(
            col("n_pairs"), col("n_hits"),
            expr("CAST(n_hits * 1000000 DIV n_pairs AS BIGINT)").as("recall_micro"))
          .withColumn("bound_ok", col("recall_micro") >= 700000L)
      },
      Some(s"""
        SELECT n_pairs, n_hits,
               CAST(n_hits * 1000000 // n_pairs AS BIGINT) AS recall_micro,
               CAST(n_hits * 1000000 // n_pairs AS BIGINT) >= 700000 AS bound_ok
        FROM (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(SUM(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
          FROM ($pqOracleSql) p
          LEFT JOIN ($topkOracleSql) e
            ON p.query_id = e.query_id AND p.cand_id = e.cand_id)""")),

    // PQ index SERVING (q196 — the tokenizer-deployment discipline
    // q179 applies to BPE, applied to vector search): the codebook is
    // trained ONCE on the standing ~90% bucket and committed with the
    // standing codes as a cross-JVM IndexStore artifact (Prebuild-
    // registered, ETL-tier cost); the delivery's ~10% delta is encoded
    // at serving time against the FROZEN codebook (one Lloyd-free
    // assignment pass) and searched together with the pinned codes.
    // Since assignment is a pure function of the codebook, the oracle
    // replays it as train-on-standing + encode-everyone — the serve
    // path and its maintenance contract under one hash.
    Q(
      "q196_pq_serve",
      (s, d) => {
        val (cbDir, cdDir) = pqIndex(s, d)
        val cent = Snapshots.read(s, cbDir)
        val standingCodes = Snapshots.read(s, cdDir)
        val el = pqElems(s, d).cache()
        val deltaCodes = pqAssign(el.filter(!pqStanding), cent)
        pqAdcTopk(el, cent, standingCodes.unionByName(deltaCodes), PqServeShortlist)
      },
      Some(pqServeOracleSql)),

    // IVF-PQ serving (q199 — faiss IVFADC's composition on q76+q196's
    // pieces): the frozen two-layer index (coarse quantizer + posting
    // lists + PQ codebook + standing codes, ONE IndexStore artifact)
    // prunes cells FIRST, ADC-scans only the probed cells' codes, and
    // exact-reranks at the serve depth. q196's scan is corpus-sized per
    // query; this one is (probed fraction)×corpus — the fraction that
    // shrinks as the cell count grows ~√N at real scale. Both layers'
    // training replays in the oracle, so the composed index is
    // hash-gated end to end.
    Q("q199_ivfpq_serve", (s, d) => ivfPqServe(s, d), Some(ivfPqOracleSql)),

    // Filtered vector search (q192): top-k among candidates passing a
    // metadata predicate (label % 4 = 1, ~30% of the corpus) — the
    // hybrid search verb every retrieval stack needs. PRE-filtered: the
    // predicate lands on the candidate CODE scan via a broadcast
    // left-semi join before any scoring, so the shortlist is drawn
    // from eligible candidates only (always k results, no recall
    // collapse) and ineligible vectors are dropped while still 1-byte
    // codes. Queries are the same 8 unfiltered probes as q51/q139.
    Q(
      "q192_filtered_ann",
      (s, d) => {
        val allow = Tables.embeddings(s, d)
          .filter(col("label") % 4 === 1)
          .select(col("vec_id"))
        sq8TopkWhere(s, d, Some(allow))
      },
      Some(filteredAnnOracleSql)),

    // [[annTopk]]'s dispatch boundary under the hash oracle (the q115
    // pattern applied to ANN): the SAME top-k contract evaluated
    // through ALL THREE dispatch arms by passing size thresholds on
    // either side of the embeddings relation's actual size — arguments
    // of the dispatcher, so the session conf is never touched. Each
    // arm must independently reproduce ITS oracle rows (brute/IVF/SQ8
    // are distinct algorithms with distinct — all deterministic —
    // answers); the union is tagged so a divergence in any arm breaks
    // the hash.
    Q(
      "q184_ann_auto_dispatch",
      (s, d) => {
        def arm(bruteMax: Long, sq8Max: Long, tag: String) = {
          val chosen = annArm(s, d, bruteMax, sq8Max)
          require(chosen == tag, s"dispatch expected $tag, chose $chosen")
          annTopk(s, d, bruteMax, sq8Max).withColumn("arm", lit(tag))
        }
        arm(Long.MaxValue, Long.MaxValue, "brute")
          .unionByName(arm(-1L, Long.MaxValue, "sq8"))
          .unionByName(arm(-1L, -1L, "ivf"))
          .select(col("arm"), col("query_id"), col("cand_id"), col("cos"), col("rnk"))
          .orderBy(col("arm"), col("query_id"), col("rnk"))
      },
      Some(s"""
        SELECT * FROM (
          SELECT 'brute' AS arm, t.* FROM ($topkOracleSql) t
          UNION ALL
          SELECT 'ivf' AS arm, t.* FROM ($ivfOracleSql) t
          UNION ALL
          SELECT 'sq8' AS arm, t.* FROM ($sq8OracleSql) t
        ) ORDER BY arm, query_id, rnk""")
    ),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding dedup
    // that never goes all-pairs — cluster first, then exact pairwise
    // cosine ONLY within a cluster, removing every vector that has a
    // lower-id τ-neighbor in its cell. The clustering is q76's trained
    // quantizer (per-label exact means + one replayed Lloyd round), so
    // the whole pipeline stays hash-gated. The two scale levers (the
    // sf1 sweep caught the first version missing both):
    //  - the cell count GROWS with the corpus, k = max(5, n/400) —
    //    bounded cell size makes the in-cell pairwise Σ|cell|² ≈ n·400
    //    LINEAR in corpus size (a fixed k would leave it n²/k); k is
    //    derived from ONE count (the AQE-statistic cost class) and the
    //    same integer formula in the oracle, so parity holds at every
    //    SF — at the gated SFs (≤2000 vectors) k stays 5, unchanged;
    //  - pairwise scoring uses the codegen'd graft_dot kernel on the
    //    packed arrays (ONE row per candidate pair, not 64 element
    //    rows) — q64 is the standing proof that the kernel's 6-dp
    //    cosines hash-match the decimal-exact oracle formulation.
    // τ = the corpus's q50 near-dup threshold (0.35 — the synthetic
    // blobs carry no 0.9+ twins); dup_of = the lowest-id retained
    // neighbor, SemDeDup's deterministic keep-one policy.
    Q(
      "q152_semdedup",
      (s, d) => {
        graft.functions.ArrayDot.register(s)
        val el = elems(s, d).cache()
        val k = math.max(IvfCells, (Tables.embeddings(s, d).count() / 400L).toInt)
        // seed cells from a vec_id HASH, never from `label`: the label
        // column has a FIXED small domain (10 values at every SF), so a
        // label-seeded init collapses the k-cell partition to ≤10
        // mega-cells whatever k is — Lloyd rounds cannot repopulate an
        // empty cell, and the within-cell pair join goes quadratic in
        // corpus size (sf10: 10 cells × C(20k,2) ≈ 2×10⁹ pairs, the
        // round-14 sweep's 600 s DNF). Hash-seeding keeps all k cells
        // ~N/k-sized, so pairs stay ~N × 400 — linear in the corpus.
        val lab = Tables.embeddings(s, d)
          .select(col("vec_id"),
            (graft.functions.TextFns.h60(col("vec_id").cast("string")) % k)
              .cast(IntegerType).as("cell"))
        // k grows with the corpus (k = n/400), so the assignment rounds
        // must NOT use the element-exploded scoresOf/cellsOf pair (its
        // pos-join materializes N×dim×k rows into an N×k-group
        // aggregate plus an N×k window sort — 1.2×10⁹ rows at sf10,
        // the second half of the round-14 DNF). Instead: broadcast the
        // k mean VECTORS (k×dim doubles — 48 KB here, ~5 MB even at
        // k=50 000) and take the per-vector argmax with the native
        // codegen'd graft_dot + a map-side-combining max(struct) — no
        // dim explosion, no window, shuffle = one row per vector. The
        // oracle keeps its decimal-exact element-join scoring: the two
        // argmaxes agree unless two cells' true scores sit within
        // double error (~1e-15) of each other; exact ties break to the
        // lower cell id on both sides.
        def argmaxCells(evb: DataFrame, cents: DataFrame): DataFrame = {
          val cv = cents
            .groupBy(col("cell"))
            .agg(collect_list(struct(col("pos"), col("c"))).as("pc"))
            .select(col("cell"),
              transform(array_sort(col("pc")), x => x.getField("c")).as("cv"))
            .withColumn("h", expr("graft_dot(cv, cv)") / 2.0)
          evb.crossJoin(broadcast(cv))
            .select(col("vec_id"), col("cell"),
              (expr("graft_dot(v, cv)") - col("h")).as("score"))
            .groupBy(col("vec_id"))
            .agg(max(struct(col("score"), (-col("cell")).as("nc"))).as("best"))
            .select(col("vec_id"), (-col("best.nc")).cast(IntegerType).as("cell"))
        }
        val evb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .cache()
        val c1 = meansOf(el, argmaxCells(evb, meansOf(el, lab)))
        val cells = argmaxCells(evb, c1)
        val ev = evb
          .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
          .join(cells, "vec_id")
          .cache()
        val dup = ev.as("a")
          .join(ev.as("b"),
            col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
            round(expr("graft_dot(a.v, b.v)") / (col("a.norm") * col("b.norm")), 6)
              .as("cos"))
          .filter(col("cos") >= 0.35)
          .groupBy(col("vb").as("vec_id")).agg(min(col("va")).as("dup_of"))
        ev.select(col("vec_id"), col("cell"))
          .join(dup, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"), col("dup_of"))
          .orderBy(col("vec_id"))
      },
      Some(s"""
        WITH $elemsSql,
        $normsSql,
        kk AS (SELECT GREATEST($IvfCells, COUNT(*) // 400) AS k FROM embeddings),
        lab AS (SELECT vec_id,
                       CAST(${graft.functions.TextFns.Sql.h60("CAST(vec_id AS VARCHAR)")} % (SELECT k FROM kk) AS INT) AS cell
                FROM embeddings),
        ${ivfRoundSql(0, "lab")},
        a0 AS (SELECT vec_id, cell FROM (
                 SELECT vec_id, cell,
                        row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
                 FROM s0)
               WHERE rn = 1),
        ${ivfRoundSql(1, "a0")},
        cells AS (SELECT vec_id, cell FROM (
                    SELECT vec_id, cell,
                           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
                    FROM s1)
                  WHERE rn = 1),
        elc AS (SELECT el.vec_id, el.pos, el.x, c.cell
                FROM el JOIN cells c ON el.vec_id = c.vec_id),
        dots AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                        CAST(SUM(CAST(a.x*b.x AS DECIMAL(38,12))) AS DOUBLE) AS dot
                 FROM elc a JOIN elc b
                 ON a.cell = b.cell AND a.pos = b.pos AND a.vec_id < b.vec_id
                 GROUP BY 1, 2),
        dup AS (SELECT vb AS vec_id, MIN(va) AS dup_of FROM (
                  SELECT d.va, d.vb, ROUND(d.dot / (na.norm * nb.norm), 6) AS cos
                  FROM dots d
                  JOIN norms na ON d.va = na.vec_id
                  JOIN norms nb ON d.vb = nb.vec_id)
                WHERE cos >= 0.35 GROUP BY vb)
        SELECT c.vec_id, c.cell, d.dup_of
        FROM cells c LEFT JOIN dup d ON c.vec_id = d.vec_id
        ORDER BY c.vec_id""")
    )
  )
}
