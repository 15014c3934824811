package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Deduplication operators over `documents`: exact (hash groupBy),
  * MinHash+LSH banding, SimHash, and n-gram Jaccard. All hashing goes
  * through [[TextFns]] portable arithmetic so the DuckDB oracles
  * reproduce results bit-for-bit.
  *
  * Scale notes (the 100 TB story):
  *  - exact dedup is one hash aggregate on the fingerprint — one shuffle;
  *  - minhash signatures cost one groupBy(doc_id) — all 16 family
  *    minima are evaluated in a single projection over the per-doc hash
  *    array — and candidate pairs come from equi-joins on
  *    (band, signature) buckets, not a cross join;
  *  - n-gram Jaccard pairs join on the shingle value itself — only docs
  *    sharing a shingle ever meet, again no cross product.
  */
object Dedup {
  import TextFns.{Sql => T}

  private val NumHashes = 16
  private val BandRows = 4 // 4 bands × 4 rows

  /** Skew guards, part of the declared pair-generation semantics (the
    * oracle SQL applies the same caps). An LSH bucket or a shingle
    * shared by more than this many documents generates O(n²) candidate
    * pairs from a single shuffle key; at corpus scale a cluster of
    * near-empty or boilerplate documents makes one such key quadratic.
    * Dropping oversized buckets / hot shingles is the standard move
    * (frequent-shingle removal in CCNet/Gopher-style dedup): a key hit
    * by >128 documents carries no discriminating signal anyway. Chosen
    * above every observed bucket size at the test scale factors (max 15
    * band-bucket / 25 shingle-df at sf0.1) so results are unchanged
    * there, while pair counts stay provably ≤ 128²/2 per key at any
    * scale (DedupSkewSpec pins this with a degenerate corpus).
    */
  private[operators] val MaxBucket = 128
  private[operators] val MaxShingleDf = 128

  /** Distinct (doc_id, shingle) pairs — the shingle-set representation. */
  private def shingleSet(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // single-split source + 50-80x shingle explode: parallelize first
      .repartition(col("doc_id"))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tok"))
      .select(col("doc_id"), explode(TextFns.shingles(col("tok"), 3)).as("shingle"))
      .distinct()

  private val shingleSetSql: String =
    s"""t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents),
        e AS (SELECT doc_id, unnest(${T.shingles("tok", 3)}) AS shingle FROM t),
        sh AS (SELECT DISTINCT doc_id, shingle FROM e)"""

  /** Per-(doc, band) LSH signature: the band's [[NumHashes]]/[[BandRows]]
    * minhash values joined with '-' in j order.
    *
    * All [[NumHashes]] minima are computed as parallel `min()` aggregate
    * columns in ONE hash aggregate whose distribution the upstream
    * repartition(doc_id) already satisfies — scan → shingle explode →
    * 16-way min agg → band projection is a single map-side stage with no
    * signature-build shuffle at all. The obvious alternative — explode
    * 16 (j, h) rows per shingle and aggregate by (doc, j) then
    * (doc, band) — amplifies the shuffle 16× and pays two keyed
    * aggregations for the same numbers.
    */
  private def bands(s: SparkSession, d: String): DataFrame = {
    val numBands = NumHashes / BandRows
    // No shingle distinct() and no collect_list: a minimum is idempotent
    // to duplicates, so the signature is identical WITHOUT the full
    // (doc_id, shingle) dedup exchange, and 16 min() aggregates keep
    // per-doc state at 16 longs instead of an O(shingles) array. The
    // repartition(doc_id) after the single-split scan already satisfies
    // the groupBy's distribution, so everything from scan to band rows
    // is ONE stage: the only exchanges left in q46 are that repartition
    // and the caller's sort (pinned at <= 2 in PlanSpec).
    val mins = (0 until NumHashes)
      .map(j => min(TextFns.minhashJ(col("hm"), lit(j))).as(s"m$j"))
    Tables.documents(s, d)
      .repartition(col("doc_id"))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tok"))
      .select(col("doc_id"), explode(TextFns.shingles(col("tok"), 3)).as("shingle"))
      .select(col("doc_id"), TextFns.hmod(col("shingle")).as("hm"))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(
        col("doc_id"),
        posexplode(array((0 until numBands).map(b =>
          concat_ws(
            "-",
            (0 until BandRows).map(r => col(s"m${b * BandRows + r}").cast("string")): _*)): _*)))
      .select(col("doc_id"), col("pos").cast(IntegerType).as("band"), col("col").as("sig"))
  }

  private val bandsSql: String =
    s"""$shingleSetSql,
        hm AS (SELECT doc_id, ${T.hmod("shingle")} AS hm FROM sh),
        jh AS (SELECT doc_id, j, ${T.minhashJ("hm", "j")} AS h
               FROM hm, (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS j)),
        minh AS (SELECT doc_id, j, min(h) AS mh FROM jh GROUP BY doc_id, j),
        bands AS (SELECT doc_id, CAST(j // $BandRows AS INT) AS band,
                         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY j) AS sig
                  FROM minh GROUP BY doc_id, CAST(j // $BandRows AS INT))"""

  /** Near-dup candidate pairs (LSH band equi-join) with exact Jaccard
    * verification: (doc_a, doc_b, inter, jaccard), doc_a < doc_b.
    * Signature + shingle-set tables are re-read by both join sides (no
    * exchange reuse across a self-join), so both are persisted — at
    * scale these are exactly the tables you'd materialize.
    */
  private def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val b = bands(s, d)
      // skew guard: drop degenerate buckets before the self-join
      // (window key == join key, so this adds no extra shuffle)
      .withColumn(
        "bsz",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("sig"))))
      .filter(col("bsz") <= MaxBucket)
      .drop("bsz")
      .cache()
    val cands = b.as("a")
      .join(
        b.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sh = shingleSet(s, d).cache()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cands
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(
        sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(
        col("doc_a"), col("doc_b"), col("inter"),
        round(
          col("inter").cast("double")
            / (col("na.n") + col("nb.n") - col("inter")).cast("double"),
          6).as("jaccard"))
  }

  /** CTE chain ending in `pairs(doc_a, doc_b, inter, jaccard)` — the
    * oracle twin of [[minhashPairs]].
    */
  private val minhashPairsSql: String =
    s"""$bandsSql,
        sized AS (SELECT doc_id, band, sig FROM (
                    SELECT *, COUNT(*) OVER (PARTITION BY band, sig) AS bsz FROM bands)
                  WHERE bsz <= $MaxBucket),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM sized a JOIN sized b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
                  FROM cand c
                  JOIN sh sa ON c.doc_a = sa.doc_id
                  JOIN sh sb ON c.doc_b = sb.doc_id AND sa.shingle = sb.shingle
                  GROUP BY c.doc_a, c.doc_b),
        pairs AS (SELECT i.doc_a, i.doc_b, i.inter,
                         ROUND(CAST(i.inter AS DOUBLE)
                               / CAST(na.n + nb.n - i.inter AS DOUBLE), 6) AS jaccard
                  FROM inter i
                  JOIN sizes na ON i.doc_a = na.doc_id
                  JOIN sizes nb ON i.doc_b = nb.doc_id)"""

  /** Jaccard threshold above which a candidate pair is a duplicate edge
    * (observed corpus: true near-dups sit at >= 0.9, accidental band
    * collisions at <= 0.02 — 0.5 separates them with a wide margin).
    */
  private[graft] val DupJaccard = 0.5

  /** Oracle chain `cc(doc_id, cluster_rep)` shared by q84 and q138:
    * connected components of the `pairs` CTE as a recursive CTE.
    * Requires `WITH RECURSIVE $minhashPairsSql` upstream.
    */
  private val dupClustersSql: String =
    s"""dup AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $DupJaccard),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM dup
                  UNION ALL SELECT doc_b, doc_a FROM dup),
        reach(node, lbl) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          -- propagating only labels below the destination id is safe:
          -- the component min is below every other member, so it still
          -- reaches everywhere; everything larger is never the answer
          SELECT e.dst, r.lbl FROM reach r
          JOIN edges e ON e.src = r.node WHERE r.lbl < e.dst),
        cc AS (SELECT node AS doc_id, min(lbl) AS cluster_rep FROM reach GROUP BY node)"""

  /** 60-bit SimHash near-dup pairs (hamming <= 3) over a (doc_id, text)
    * frame. See the q85 declaration for the completeness argument
    * (4 x 15-bit bands + pigeonhole) and skew guard.
    */
  private[graft] def simhashPairs(docsDf: DataFrame): DataFrame = {
    val bits = 60
    val tokd = docsDf
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token"))
      .distinct()
      .select(col("doc_id"), TextFns.h60(col("token")).as("th"))
    val bitSums = (0 until bits).map { b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"s$b")
    }
    val sim = (0 until bits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    val sh = tokd
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
    val banded = sh
      .select(
        col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(i =>
          (shiftright(col("simhash"), 15 * i) % 32768)): _*)))
      .select(
        col("doc_id"), col("simhash"),
        col("pos").cast(IntegerType).as("band"), col("col").as("bval"))
      .withColumn(
        "bsz",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("bval"))))
      .filter(col("bsz") <= MaxBucket)
      .drop("bsz")
    banded.as("a")
      .join(
        banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval")
          && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** Distributed connected components over an undirected pair list
    * (2 columns: the two endpoint ids) by alternating LARGE-STAR /
    * SMALL-STAR rounds (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14 — a public technique). Returns
    * ((node, lbl), rounds) where lbl is the component's minimum node
    * id and rounds counts (large, small) pairs to the fixpoint.
    *
    * Why not plain min-label propagation: its round count is the graph
    * DIAMETER. Dup clusters from band collisions are near-cliques
    * (diameter ≤ 3), but templated web text at corpus scale produces
    * long CHAINS of pairwise near-dups, and a length-L chain costs L
    * shuffle rounds at any cluster size. The star operations instead
    * contract every component toward a star rooted at its minimum:
    * large-star hangs each node's larger neighbors off the neighborhood
    * minimum, small-star re-points the smaller neighbors at it, and the
    * round count grows with the log of component size, not its
    * diameter — ≤7 rounds on TextDedupSpec's 24-node chain, strictly
    * fewer than the min-label propagation control that spec runs on
    * the same graph, so million-node chains converge in tens of rounds.
    *
    * Mechanics: edges stay canonical as (hi > lo) pairs. Each
    * half-round is one keyed min-agg plus one equi-join on the edge
    * list — never an all-pairs product — and the new edge frame
    * localCheckpoints (eager), truncating lineage so the plan stays
    * bounded however many rounds run. Convergence is an EXACT fixpoint
    * test, not a checksum heuristic: same edge count and an empty
    * left-anti probe of next vs current, two cheap driver scalars over
    * the already-materialized frames. At the fixpoint every component
    * IS a star whose root is the component minimum (the paper's
    * invariant), so labels read straight off the edge list.
    */
  private[graft] def connectedComponentsWithRounds(pairsDf: DataFrame): (DataFrame, Int) = {
    val undirected = pairsDf.toDF("pa", "pb").filter(col("pa") =!= col("pb"))
    var edges = undirected
      .select(
        greatest(col("pa"), col("pb")).as("hi"),
        least(col("pa"), col("pb")).as("lo"))
      .distinct()
      .localCheckpoint()

    // large-star(u): every neighbor v > u re-attaches to
    // m(u) = min(N(u) ∪ {u}); emitted (v, m) keeps v > m canonical
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = und.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // no distinct here: small-star ends the round with one, and a few
      // duplicate intermediate edges are cheaper than a second exchange
      und.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
    }

    // small-star(hi): all smaller neighbors (and hi itself) re-attach
    // to m = min(N⁻(hi)); every emitted pair again has first > second
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      e.join(mins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(mins.select(col("hi"), col("m").as("lo")))
        .distinct()
    }

    // one count job per frame, not per comparison: the previous round's
    // count is remembered, so a round costs count(next) + (anti-join
    // probe only when the counts agree)
    var edgeCount = edges.count()
    var converged = edgeCount == 0
    var rounds = 0
    // data-derived shuffle sizing for the contraction rounds
    // ([[graft.Parts]]): the pair graph is match-sized, and every
    // half-round's min-agg + join otherwise runs at the session's full
    // fan-out; the exact materialized edge count beats a stats estimate
    graft.Parts.sizedByRows(pairsDf.sparkSession, edgeCount) {
      while (!converged && rounds < 30) {
        val next = smallStar(largeStar(edges)).localCheckpoint()
        val nextCount = next.count()
        converged = nextCount == edgeCount &&
          next.join(edges, Seq("hi", "lo"), "left_anti").isEmpty
        edges = next
        edgeCount = nextCount
        rounds += 1
      }
    }
    require(converged, s"star contraction did not converge in $rounds rounds")
    // fixpoint edges are (member, root) stars; roots label themselves
    val labels = edges.select(col("hi").as("node"), col("lo").as("lbl"))
      .union(edges.select(col("lo").as("node"), col("lo").as("lbl")))
      .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
      .localCheckpoint()
    (labels, rounds)
  }

  private[graft] def connectedComponents(pairsDf: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairsDf)._1

  /** Winnowing gram length / window (q141/q142): true per-window
    * winnowing (Schleimer/Wilkerson/Aiken) — every window of [[SpanW]]
    * consecutive grams selects its minimum fingerprint, rightmost on
    * ties. Rightmost-in-window is a function of the window's own
    * fingerprint sequence only, so two copies of a region select the
    * SAME gram from their shared windows regardless of surrounding
    * context: any duplicated region ≥ SpanK+SpanW-1 = 34 chars contains
    * a full window and is therefore GUARANTEED to share an anchor —
    * the hard worst-case bound a symmetric local-min filter cannot
    * give (a smaller fingerprint just outside one copy can suppress a
    * local-min anchor inside it). Expected density ~2/(SpanW+1) of
    * positions.
    */
  private val SpanK = 20
  private val SpanW = 15

  /** Winnowing anchors over the corpus: (doc_id, n_chars, pos, fp),
    * one row per selected fingerprint. Cached — every consumer uses it
    * on at least two sides of a self-join-shaped reuse. Shared core of
    * q141 (corpus-recurrence report), q142 (removal) and q144
    * (incremental probe); see the q141 declaration for the full design
    * commentary.
    *
    * Long-doc bound: the anchor-selection window partitions by doc_id,
    * so one document's grams are one task. Fine for web-page-scale docs
    * (the corpus contract); a corpus of book-length outliers should be
    * pre-chunked (the q93 context-chunking pass) before span detection,
    * the same mitigation every per-doc window op in this library
    * declares — the bounded [[SpanW]]-row frame keeps the per-task cost
    * linear, it is the single-task residency that caps doc size.
    */
  private[graft] def spanAnchors(sp: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(sp, d)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .filter(col("n_chars") >= SpanK)
      .repartition(col("doc_id"))
      .select(
        col("doc_id"), col("n_chars"), col("text"),
        explode(sequence(lit(1L), col("n_chars") - (SpanK - 1))).as("pos"))
      .select(
        col("doc_id"), col("n_chars"), col("pos"),
        TextFns.h60(expr(s"substring(text, pos, $SpanK)")).as("fp"))
    // per-window rightmost-min selection: each window START row carries
    // min(struct(fp, -pos)) over the W grams ahead of it (struct order =
    // fp first, then -pos, so fp ties resolve to the RIGHTMOST gram —
    // the window-local tie-break the detection guarantee needs); rows
    // past the last full-window start are dropped (a doc shorter than
    // W grams keeps its single truncated window so short docs still
    // anchor their global min), and consecutive windows selecting the
    // same gram collapse via a lag over the same doc-keyed ordering —
    // the selected-by window set of one gram is contiguous, so a
    // one-row lag is exact dedup with no extra shuffle or sort
    val wFwd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, SpanW - 1)
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    grams
      .withColumn("w", min(struct(col("fp"), (-col("pos")).as("np"))).over(wFwd))
      .filter(
        col("pos") <= greatest(
          lit(1L),
          (col("n_chars") - lit(SpanK + SpanW - 2)).cast(LongType)))
      .withColumn("pw", lag(col("w"), 1).over(wDoc))
      .filter(col("pw").isNull || col("pw") =!= col("w"))
      .select(
        col("doc_id"), col("n_chars"),
        (-col("w.np")).as("pos"), col("w.fp").as("fp"))
      .cache()
  }

  /** Merge marked anchors into maximal per-doc islands:
    * (doc_id, island, s, e, n_chars), 1-based inclusive char bounds.
    */
  private def islandize(marked: DataFrame): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      .withColumn("e", col("pos") + (SpanK - 1))
      .withColumn(
        "me",
        max(col("e")).over(wDoc.rowsBetween(Long.MinValue, -1)))
      .withColumn(
        "ni",
        when(col("me").isNull || col("pos") > col("me") + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(wDoc.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"), max(col("n_chars")).as("n_chars"))
  }

  private def dupIslands(sp: SparkSession, d: String): DataFrame = {
    // anchors feeds BOTH sides of the recurrence semi-join (the
    // aggregate and the probe) — the spanAnchors cache covers it
    val anchors = spanAnchors(sp, d)
    val recurring = anchors
      .groupBy(col("fp")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("fp"))
    islandize(anchors.join(recurring, Seq("fp"), "left_semi"))
  }

  /** Oracle CTE chain mirroring [[spanAnchors]]: defines
    * `anch(doc_id, n_chars, pos, fp)`.
    */
  private val anchorsSql: String = s"""
        p AS (
          SELECT doc_id, n_chars, text,
                 unnest(generate_series(1, CAST(n_chars - ${SpanK - 1} AS BIGINT))) AS pos
          FROM documents WHERE n_chars >= $SpanK),
        g AS (
          SELECT doc_id, n_chars, pos,
                 ${T.h60(s"substr(text, CAST(pos AS INT), $SpanK)")} AS fp
          FROM p),
        a AS (
          SELECT doc_id, n_chars, pos,
                 MIN(fp * 1099511627776::HUGEINT + (1099511627776 - pos)) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND ${SpanW - 1} FOLLOWING) AS wkey
          FROM g),
        anch AS (
          SELECT DISTINCT doc_id, n_chars,
                 CAST(1099511627776 - (wkey % 1099511627776) AS BIGINT) AS pos,
                 CAST(wkey // 1099511627776 AS BIGINT) AS fp
          FROM a
          WHERE pos <= greatest(1, n_chars - ${SpanK + SpanW - 2}))"""

  /** Oracle CTE chain mirroring [[islandize]] over `anch` rows matching
    * `where`: defines `sp(doc_id, island, s, e, n_chars)`.
    */
  private def islandsSql(where: String): String = s"""
        m AS (
          SELECT doc_id, n_chars, pos, pos + ${SpanK - 1} AS e,
                 MAX(pos + ${SpanK - 1}) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS me
          FROM anch WHERE $where),
        i AS (
          SELECT *, CASE WHEN me IS NULL OR pos > me + 1 THEN 1 ELSE 0 END AS ni FROM m),
        isl AS (
          SELECT *, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM i),
        sp AS (
          SELECT doc_id, island, MIN(pos) AS s, MAX(e) AS e, MAX(n_chars) AS n_chars
          FROM isl GROUP BY 1, 2)"""

  /** Full chain for the corpus-recurrence variant (q141/q142). */
  private val dupSpansSql: String = s"""$anchorsSql,
        rec AS (SELECT fp FROM anch GROUP BY fp HAVING COUNT(*) >= 2),
        ${islandsSql("fp IN (SELECT fp FROM rec)")}"""

  val all: Seq[Q] = Seq(
    // exact dedup: one hash aggregate on the normalized-text fingerprint
    Q(
      "q45_exact_dedup",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            md5(array_join(TextFns.tokens(col("text")), " ")).as("fp")
          )
          .groupBy(col("fp"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"), col("fp"))
          .orderBy(col("keep_id")),
      Some(s"""
        WITH t AS (SELECT doc_id, md5(array_to_string(${T.tokens}, ' ')) AS fp FROM documents)
        SELECT min(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies, fp
        FROM t GROUP BY fp ORDER BY keep_id""")
    ),

    // minhash signatures banded for LSH (the shuffle-keyed representation)
    Q(
      "q46_minhash_bands",
      (s, d) => bands(s, d).orderBy(col("doc_id"), col("band")),
      Some(s"""
        WITH $bandsSql
        SELECT doc_id, band, sig FROM bands ORDER BY doc_id, band""")
    ),

    // LSH candidate pairs (equi-join on band buckets) + exact Jaccard verify
    Q(
      "q47_minhash_pairs",
      (s, d) => minhashPairs(s, d).orderBy(col("doc_a"), col("doc_b")),
      Some(s"""
        WITH $minhashPairsSql
        SELECT doc_a, doc_b, inter, jaccard FROM pairs
        ORDER BY doc_a, doc_b""")
    ),

    // SimHash: 32-bit sign-aggregated token-hash fingerprint + 8-bit bands
    Q(
      "q48_simhash",
      (s, d) => {
        val tokd = Tables.documents(s, d)
          .repartition(col("doc_id"))
          .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token"))
          .distinct()
          .select(col("doc_id"), TextFns.h60(col("token")).as("th"))
        val bitSums = (0 until 32).map { b =>
          sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
            .as(s"s$b")
        }
        val sums = tokd
          .groupBy(col("doc_id"))
          .agg(bitSums.head, bitSums.tail: _*)
        val sim = (0 until 32)
          .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _)
        sums
          .select(col("doc_id"), sim.as("simhash"))
          .select(
            col("doc_id"),
            col("simhash"),
            (col("simhash") % 256).cast(IntegerType).as("band0"),
            (expr("shiftright(simhash, 8)") % 256).cast(IntegerType).as("band1"),
            (expr("shiftright(simhash, 16)") % 256).cast(IntegerType).as("band2"),
            (expr("shiftright(simhash, 24)") % 256).cast(IntegerType).as("band3")
          )
          .orderBy(col("doc_id"))
      },
      Some {
        val sumCols = (0 until 32)
          .map(b => s"SUM(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
          .mkString(",\n                 ")
        val simExpr = (0 until 32)
          .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
          .mkString(" + ")
        s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents),
        e AS (SELECT DISTINCT doc_id, unnest(tok) AS token FROM t),
        h AS (SELECT doc_id, ${T.h60("token")} AS th FROM e),
        sums AS (SELECT doc_id,
                 $sumCols
                 FROM h GROUP BY doc_id),
        sh AS (SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash FROM sums)
        SELECT doc_id, simhash,
               CAST(simhash % 256 AS INT) AS band0,
               CAST((simhash >> 8) % 256 AS INT) AS band1,
               CAST((simhash >> 16) % 256 AS INT) AS band2,
               CAST((simhash >> 24) % 256 AS INT) AS band3
        FROM sh ORDER BY doc_id"""
      }
    ),

    // n-gram Jaccard near-dup pairs via shingle-value equi-join (no LSH,
    // no cross join: only docs sharing a shingle meet in the shuffle)
    Q(
      "q49_jaccard_pairs",
      (s, d) => {
        val sh = shingleSet(s, d).cache()
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        // skew guard: a shingle present in >MaxShingleDf docs is
        // boilerplate (stopword-like) — it would meet quadratically in
        // the shuffle while carrying no near-dup signal. Set sizes stay
        // exact; only the intersection join skips hot shingles. Window
        // key == join key: no extra shuffle.
        val joinable = sh
          .withColumn(
            "df",
            count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
          .filter(col("df") <= MaxShingleDf)
          .drop("df")
        val inter = joinable.as("a")
          .join(
            joinable.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
          .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
          .select(
            col("doc_a"), col("doc_b"), col("inter"),
            round(
              col("inter").cast("double")
                / (col("na.n") + col("nb.n") - col("inter")).cast("double"),
              6).as("jaccard"))
          .filter(col("jaccard") >= 0.1)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        WITH $shingleSetSql,
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        joinable AS (SELECT doc_id, shingle FROM (
                       SELECT *, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
                     WHERE df <= $MaxShingleDf),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
                  FROM joinable a JOIN joinable b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b, inter, jaccard FROM (
          SELECT i.doc_a, i.doc_b, i.inter,
                 ROUND(CAST(i.inter AS DOUBLE)
                       / CAST(na.n + nb.n - i.inter AS DOUBLE), 6) AS jaccard
          FROM inter i
          JOIN sizes na ON i.doc_a = na.doc_id
          JOIN sizes nb ON i.doc_b = nb.doc_id)
        WHERE jaccard >= 0.1
        ORDER BY doc_a, doc_b""")
    ),

    // Duplicate-cluster resolution: connected components over the
    // near-dup pair graph (jaccard >= DupJaccard), each doc labeled with
    // its component's min doc_id — the canonical representative a dedup
    // pipeline keeps. Pairs only say "these two match"; transitive
    // closure ([[connectedComponents]]) is what turns A~B, B~C into one
    // cluster {A,B,C} with one survivor.
    Q(
      "q84_dup_clusters",
      (s, d) =>
        connectedComponents(
          minhashPairs(s, d)
            .filter(col("jaccard") >= DupJaccard)
            .select(col("doc_a"), col("doc_b")))
          .select(col("node").as("doc_id"), col("lbl").as("cluster_rep"))
          .withColumn(
            "cluster_size",
            count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_rep")))
              .cast(IntegerType))
          .withColumn(
            "is_canonical",
            (col("doc_id") === col("cluster_rep")).cast(IntegerType))
          .orderBy(col("doc_id")),
      Some(s"""
        WITH RECURSIVE $minhashPairsSql,
        $dupClustersSql
        SELECT doc_id, cluster_rep,
               CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS INT) AS cluster_size,
               CAST(doc_id = cluster_rep AS INT) AS is_canonical
        FROM cc ORDER BY doc_id""")
    ),

    // CROSS-SOURCE DUPLICATION MATRIX — the provenance analytics a
    // multi-source training corpus needs before mixing: for every
    // (source, source) pair, how many near-dup edges cross it and how
    // similar they are. A hot off-diagonal cell means two feeds crawl
    // the same upstream (dedup BEFORE weighting, or the mixture
    // double-counts it); a hot diagonal means a feed self-duplicates.
    // Pairs come from the SAME banded LSH join as q47 (never
    // all-pairs); the matrix aggregation is pair-table-sized, i.e.
    // tiny relative to the corpus. Mean similarity is the exact
    // integer micro-mean of the 6-dp jaccards (sum of rounded micro
    // values div count — no double averaging to drift).
    Q(
      "q187_dup_source_matrix",
      (s, d) => {
        val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
        minhashPairs(s, d)
          .filter(col("jaccard") >= DupJaccard)
          .join(src.as("qa"), col("doc_a") === col("qa.doc_id"))
          .join(src.as("qb"), col("doc_b") === col("qb.doc_id"))
          .select(
            least(col("qa.source"), col("qb.source")).as("source_a"),
            greatest(col("qa.source"), col("qb.source")).as("source_b"),
            round(col("jaccard") * 1000000).cast("long").as("j_micro"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(
            count(lit(1)).as("n_pairs"),
            sum(col("j_micro")).as("j_sum"))
          .select(
            col("source_a"), col("source_b"), col("n_pairs"),
            expr("j_sum div n_pairs").as("mean_jaccard_micro"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""
        WITH $minhashPairsSql,
        lab AS (SELECT least(qa.source, qb.source) AS source_a,
                       greatest(qa.source, qb.source) AS source_b,
                       CAST(ROUND(p.jaccard * 1000000) AS BIGINT) AS j_micro
                FROM pairs p
                JOIN documents qa ON p.doc_a = qa.doc_id
                JOIN documents qb ON p.doc_b = qb.doc_id
                WHERE p.jaccard >= $DupJaccard)
        SELECT source_a, source_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(j_micro) // COUNT(*) AS BIGINT) AS mean_jaccard_micro
        FROM lab GROUP BY 1, 2 ORDER BY 1, 2""")
    ),

    // Quality-aware survivor selection: within each near-dup cluster,
    // KEEP THE BEST member, not the first — min-id survivors (q84's
    // is_canonical) systematically keep whichever copy was crawled
    // first, while a dedup pipeline wants the highest-quality copy
    // (least boilerplate-diluted, most lexically diverse). Quality is
    // the exact integer-ppm distinct-token ratio (the q135 recipe —
    // integer DIV, no double comparisons to drift), tie-broken by
    // length then id. Scale shape: the cluster table is tiny relative
    // to the corpus (only docs that appear in a near-dup pair), so it
    // BROADCASTS into one corpus scan; the survivor window partitions
    // by cluster over that small join result only.
    Q(
      "q138_cluster_survivor",
      (s, d) => {
        val cc = connectedComponents(
          minhashPairs(s, d)
            .filter(col("jaccard") >= DupJaccard)
            .select(col("doc_a"), col("doc_b")))
          .select(col("node").as("doc_id"), col("lbl").as("cluster_rep"))
        val metrics = Tables.documents(s, d)
          .repartition(col("doc_id"))
          .select(col("doc_id"), TextFns.tokens(col("text")).as("tok"))
          .select(
            col("doc_id"),
            size(col("tok")).as("n_tokens"),
            size(array_distinct(col("tok"))).as("n_distinct"))
          .select(
            col("doc_id"), col("n_tokens"),
            expr("(CAST(n_distinct AS BIGINT) * 1000000) div n_tokens").as("ppm"))
        metrics
          .join(broadcast(cc), "doc_id")
          .withColumn(
            "cluster_size",
            count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_rep")))
              .cast(IntegerType))
          .withColumn(
            "rk",
            row_number().over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_rep"))
                .orderBy(col("ppm").desc, col("n_tokens").desc, col("doc_id"))))
          .filter(col("rk") === 1)
          .select(
            col("cluster_rep"), col("doc_id").as("keep_id"),
            col("ppm").as("keep_ppm"), col("cluster_size"))
          .orderBy(col("cluster_rep"))
      },
      Some(s"""
        WITH RECURSIVE $minhashPairsSql,
        $dupClustersSql,
        q AS (SELECT doc_id,
                     CAST(len(tok) AS INT) AS n_tokens,
                     len(list_distinct(tok)) * 1000000 // len(tok) AS ppm
              FROM (SELECT doc_id, ${T.tokens} AS tok FROM documents)),
        j AS (SELECT cc.doc_id, cc.cluster_rep, q.ppm, q.n_tokens,
                     CAST(COUNT(*) OVER (PARTITION BY cc.cluster_rep) AS INT) AS cluster_size
              FROM cc JOIN q ON cc.doc_id = q.doc_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY cluster_rep
                          ORDER BY ppm DESC, n_tokens DESC, doc_id) AS rk
              FROM j)
        SELECT cluster_rep, doc_id AS keep_id, CAST(ppm AS BIGINT) AS keep_ppm, cluster_size
        FROM r WHERE rk = 1 ORDER BY cluster_rep""")
    ),

    // SimHash near-dup pairs: 60-bit simhash (the 32-bit q48 signature
    // is a demo width — at 32 bits unrelated docs collide at hamming 0
    // by the thousands even at 500 docs), banded 4 x 15 bits. Pigeonhole
    // makes the band join COMPLETE for hamming <= 3: 3 differing bits
    // touch at most 3 of the 4 bands, so one band is always identical —
    // candidate generation is an equi-join (with the same bucket-size
    // skew guard as MinHash), never an all-pairs scan, and the exact
    // hamming check (bit_count of xor) runs only inside buckets.
    Q(
      "q85_simhash_pairs",
      (s, d) =>
        simhashPairs(Tables.documents(s, d).repartition(col("doc_id")))
          .orderBy(col("doc_a"), col("doc_b")),
      Some {
        val bits = 60
        val sumCols = (0 until bits)
          .map(b => s"SUM(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
          .mkString(", ")
        val simExpr = (0 until bits)
          .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
          .mkString(" + ")
        s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents),
        e AS (SELECT DISTINCT doc_id, unnest(tok) AS token FROM t),
        h AS (SELECT doc_id, ${T.h60("token")} AS th FROM e),
        sums AS (SELECT doc_id, $sumCols FROM h GROUP BY doc_id),
        sh AS (SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash FROM sums),
        banded AS (
          SELECT doc_id, simhash, band, (simhash >> (15 * band)) % 32768 AS bval
          FROM sh, (SELECT unnest(generate_series(0, 3)) AS band)),
        sized AS (SELECT doc_id, simhash, band, bval FROM (
                    SELECT *, COUNT(*) OVER (PARTITION BY band, bval) AS bsz FROM banded)
                  WHERE bsz <= $MaxBucket),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
                 FROM sized a JOIN sized b
                   ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, hamming FROM cand
        WHERE hamming <= 3 ORDER BY doc_a, doc_b"""
      }
    ),

    // Fuzzy (edit-distance) near-dup over the NAME DOMAIN: distinct-first
    // shrinks the quadratic surface from rows to vocabulary (the scale
    // move — a 100 TB catalog still has a bounded name vocab), then a
    // (first_char, length-band) block caps each block before the
    // levenshtein check. Lev <= 3 keeps typo-range matches.
    //
    // Blocking is the q104 banded-range-join trick applied to string
    // length: band = len div 3; |len_a - len_b| <= 2 means a qualifying
    // pair differs by at most one band, so exploding the probe side
    // into bands {b-1, b, b+1} and equi-joining on (first_char, band)
    // is COMPLETE for the declared predicate — and each pair meets
    // exactly once because the build side keeps its single band. A
    // first-char-only key would leave O(V²/26) same-letter comparisons
    // per block; the length band multiplies the block count by the
    // length spread. Recall completeness and the per-block pair bound
    // are pinned in CorpusOpsSpec.
    Q(
      "q103_fuzzy_neardup",
      (s, d) => {
        val names = Tables.part(s, d)
          .select(col("p_name")).distinct()
          .withColumn("blk", substring(col("p_name"), 1, 1))
          .withColumn("band", floor(length(col("p_name")) / 3).cast("int"))
          .cache() // both sides of the self-join (no exchange reuse)
        val a = names.select(
          col("blk"), col("p_name").as("name_a"),
          explode(array(col("band") - 1, col("band"), col("band") + 1)).as("band"))
        val b = names.select(col("blk"), col("p_name").as("name_b"), col("band"))
        a.join(b, Seq("blk", "band"))
          .filter(
            col("name_a") < col("name_b") &&
              abs(length(col("name_a")) - length(col("name_b"))) <= 2 &&
              levenshtein(col("name_a"), col("name_b")) <= 3)
          .select(
            col("name_a"), col("name_b"),
            levenshtein(col("name_a"), col("name_b")).as("dist"))
          .orderBy(col("name_a"), col("name_b"))
      },
      Some("""
        WITH n AS (SELECT DISTINCT p_name FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        FROM n a JOIN n b
          ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
         AND a.p_name < b.p_name
        WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
          AND levenshtein(a.p_name, b.p_name) <= 3
        ORDER BY name_a, name_b""")
    ),

    // Incremental (ingestion-time) exact dedup: a new batch arrives and
    // must be deduplicated BOTH against the existing corpus fingerprint
    // index and within itself — the verb a continuously-fed corpus runs
    // on every delivery, where q45 is the one-shot whole-corpus form.
    // The index probe is a left-anti equi-join on the fingerprint (the
    // scale-safe NOT IN: co-partitioned shuffle, no collected list);
    // within-batch survivors are min-doc_id per fingerprint, one keyed
    // agg. At warehouse scale the index side would be bucketed by fp so
    // the probe shuffles only the (much smaller) incoming batch. The
    // batch here is synthesized by doc_id split (>= 400 incoming).
    Q(
      "q119_incremental_dedup",
      (s, d) => {
        val fp = Tables.documents(s, d)
          .select(col("doc_id"), md5(col("text")).as("fp"))
        val index = fp.filter(col("doc_id") < 400).select(col("fp"))
        val incoming = fp.filter(col("doc_id") >= 400)
        incoming
          .join(index, Seq("fp"), "left_anti")
          .groupBy(col("fp"))
          .agg(
            min(col("doc_id")).as("doc_id"),
            count(lit(1)).cast(IntegerType).as("batch_copies"))
          .select(col("doc_id"), col("fp"), col("batch_copies"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
        novel AS (
          SELECT i.* FROM (SELECT * FROM fp WHERE doc_id >= 400) i
          ANTI JOIN (SELECT fp FROM fp WHERE doc_id < 400) x ON i.fp = x.fp)
        SELECT MIN(doc_id) AS doc_id, fp, CAST(COUNT(*) AS INT) AS batch_copies
        FROM novel GROUP BY fp
        ORDER BY doc_id""")
    ),

    // Incremental (ingestion-time) NEAR-dup: q119's delivery-time verb
    // upgraded from exact to near — the new batch's LSH band signatures
    // probe the existing corpus's band index (equi-join on (band, sig),
    // never batch×corpus), colliding candidates verify with exact
    // Jaccard >= DupJaccard. The bucket-size cap guards the INDEX side:
    // a degenerate corpus bucket would turn the probe quadratic. At
    // warehouse scale the index bands are a precomputed table bucketed
    // by (band, sig) — the q119 posture: only the incoming batch's
    // bands shuffle per delivery. Here both sides derive from one
    // cached computation (a self-join-shaped reuse, so no exchange
    // reuse — the cache is the materialized index standing in).
    Q(
      "q130_incremental_neardup",
      (s, d) => {
        val b = bands(s, d)
          .withColumn(
            "idx_bsz",
            count(when(col("doc_id") < 400, 1)).over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("band"), col("sig"))))
          .filter(col("idx_bsz") <= MaxBucket)
          .drop("idx_bsz")
          .cache()
        val index = b.filter(col("doc_id") < 400)
        val incoming = b.filter(col("doc_id") >= 400)
        val cands = incoming.as("n")
          .join(
            index.as("x"),
            col("n.band") === col("x.band") && col("n.sig") === col("x.sig"))
          .select(col("n.doc_id").as("new_doc"), col("x.doc_id").as("dup_of"))
          .distinct()
        val sh = shingleSet(s, d).cache()
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        cands
          .join(sh.as("sa"), col("new_doc") === col("sa.doc_id"))
          .join(
            sh.as("sb"),
            col("dup_of") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
          .groupBy(col("new_doc"), col("dup_of"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.as("na"), col("new_doc") === col("na.doc_id"))
          .join(sizes.as("nb"), col("dup_of") === col("nb.doc_id"))
          .select(
            col("new_doc"), col("dup_of"), col("inter"),
            round(
              col("inter").cast("double")
                / (col("na.n") + col("nb.n") - col("inter")).cast("double"),
              6).as("jaccard"))
          .filter(col("jaccard") >= DupJaccard)
          .orderBy(col("new_doc"), col("dup_of"))
      },
      Some(s"""
        WITH $bandsSql,
        capped AS (SELECT doc_id, band, sig FROM (
                     SELECT *, COUNT(*) FILTER (WHERE doc_id < 400)
                               OVER (PARTITION BY band, sig) AS idx_bsz
                     FROM bands)
                   WHERE idx_bsz <= $MaxBucket),
        cand AS (SELECT DISTINCT n.doc_id AS new_doc, x.doc_id AS dup_of
                 FROM (SELECT * FROM capped WHERE doc_id >= 400) n
                 JOIN (SELECT * FROM capped WHERE doc_id < 400) x
                   ON n.band = x.band AND n.sig = x.sig),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT c.new_doc, c.dup_of, CAST(COUNT(*) AS BIGINT) AS inter
                  FROM cand c
                  JOIN sh sa ON c.new_doc = sa.doc_id
                  JOIN sh sb ON c.dup_of = sb.doc_id AND sa.shingle = sb.shingle
                  GROUP BY c.new_doc, c.dup_of),
        pairs AS (SELECT i.new_doc, i.dup_of, i.inter,
                         ROUND(CAST(i.inter AS DOUBLE)
                               / CAST(na.n + nb.n - i.inter AS DOUBLE), 6) AS jaccard
                  FROM inter i
                  JOIN sizes na ON i.new_doc = na.doc_id
                  JOIN sizes nb ON i.dup_of = nb.doc_id)
        SELECT new_doc, dup_of, inter, jaccard FROM pairs
        WHERE jaccard >= $DupJaccard
        ORDER BY new_doc, dup_of""")
    ),

    // Leakage-safe train/eval split: assignment is hashed on the
    // DUPLICATE-CLUSTER representative (q84's connected components),
    // not the doc id, so a pair of near-duplicates can never straddle
    // train and eval — the classic contamination bug q78's per-doc
    // hash split silently commits. Docs outside any cluster are their
    // own singleton key; the guarantee (every q47 near-dup pair lands
    // in ONE split) is pinned in CorpusOpsSpec. Scale shape: the
    // cluster table is near-dup-sized (tiny vs the corpus), so the
    // left join broadcasts; the split decision stays a projection.
    Q(
      "q134_leakage_safe_split",
      (s, d) => {
        val clusters = connectedComponents(
          minhashPairs(s, d)
            .filter(col("jaccard") >= DupJaccard)
            .select(col("doc_a"), col("doc_b")))
          .select(col("node").as("doc_id"), col("lbl").as("rep"))
        Tables.documents(s, d)
          .select(col("doc_id"))
          .join(broadcast(clusters), Seq("doc_id"), "left")
          .withColumn("cluster_key", coalesce(col("rep"), col("doc_id")))
          .withColumn("bucket", TextFns.h60(col("cluster_key").cast("string")) % 100)
          .withColumn("split", when(col("bucket") < 90, "train").otherwise("eval"))
          .select(col("doc_id"), col("cluster_key"), col("bucket"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE $minhashPairsSql,
        dup AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $DupJaccard),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM dup
                  UNION ALL SELECT doc_b, doc_a FROM dup),
        reach(node, lbl) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.lbl FROM reach r
          JOIN edges e ON e.src = r.node WHERE r.lbl < e.dst),
        cc AS (SELECT node AS doc_id, min(lbl) AS cluster_rep FROM reach GROUP BY node),
        assign AS (
          SELECT d.doc_id, COALESCE(cc.cluster_rep, d.doc_id) AS cluster_key
          FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id)
        SELECT doc_id, cluster_key,
               (${T.h60("CAST(cluster_key AS VARCHAR)")} % 100) AS bucket,
               CASE WHEN (${T.h60("CAST(cluster_key AS VARCHAR)")} % 100) < 90
                    THEN 'train' ELSE 'eval' END AS split
        FROM assign ORDER BY doc_id""")
    ),

    // (shared pipeline for q141/q142 lives in dupIslands / dupSpansSql below)
    // EXACT substring-duplication spans via winnowing fingerprints
    // (Schleimer/Wilkerson/Aiken 2003 — the MOSS selection; the span
    // view of dedup that Lee et al. 2022 get from suffix arrays, in
    // the shuffle-bounded form a cluster can run). The shingle/minhash
    // family above answers "which DOCS are near-dups"; this answers
    // "which CHARACTER RANGES are duplicated", the cut-list a
    // train-data pipeline feeds to span removal. Pipeline: every
    // K-char gram is hashed (md5-portable), a gram is an ANCHOR when
    // its hash is the minimum of the surrounding 2W-1 grams — a
    // CONTENT-DEFINED choice, so two copies of a region select the
    // same anchors regardless of their alignment in each document
    // (the failure mode of fixed-stride sampling); anchors whose hash
    // recurs (across docs or within one — boilerplate either way) mark
    // [pos, pos+K-1], and overlapping/adjacent marks merge into spans
    // per doc (the SQL islands pattern). Any duplicated region of
    // length >= K+2(W-1) is guaranteed to contain a shared anchor.
    // Scale: positions explode is linear in corpus chars (the same
    // class as the shingle explodes above, repartitioned off the
    // small-file scan first); anchor selection is a bounded-frame
    // window per doc; recurrence is ONE hash aggregate + a left-semi
    // back — docs never meet docs, so no pair blowup and no skew cap
    // needed (a boilerplate anchor shared by a million docs still
    // costs one aggregate row, not a million-squared join).
    Q(
      "q141_dup_spans",
      (s, d) =>
        dupIslands(s, d)
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_dup_spans"),
            sum(col("e") - col("s") + 1).as("dup_chars"),
            max(col("n_chars")).as("nc"))
          .select(
            col("doc_id"), col("n_dup_spans"), col("dup_chars"),
            expr("dup_chars * 1000000 div nc").as("dup_ppm"))
          .orderBy(col("doc_id")),
      Some(s"""
        WITH $dupSpansSql
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
               CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
               CAST((CAST(SUM(e - s + 1) AS BIGINT) * 1000000) // MAX(n_chars) AS BIGINT) AS dup_ppm
        FROM sp GROUP BY doc_id ORDER BY doc_id""")
    ),

    // EXACT duplicated-substring cover at gram granularity (round 14,
    // completing the span family): q141 detects spans from WINNOWED
    // (sampled, ~2/(W+1) density) fingerprints — guaranteed only for
    // regions >= K+W-1 = 34 chars, with anchor-granular boundaries.
    // This verb is the EXACT form (the semantics of Lee et al. 2022's
    // suffix-array ExactSubstr dedup, 50-token threshold, re-expressed
    // as the bucketed shuffle a cluster can run): EVERY K-gram position
    // is hashed, a position is duplicated iff its exact K-char string
    // occurs a second time anywhere in the corpus (other doc or same
    // doc), and overlapping duplicated grams merge into maximal
    // per-doc islands — so every duplicated region >= K = 20 chars is
    // reported with EXACT character bounds (collisions at the md5-h60
    // level only). The "suffix-array" global order is replaced by a
    // hash-bucketed recurrence: candidate generation is ONE groupBy(fp)
    // aggregate (map-side combinable) + a left-semi probe back — docs
    // never meet docs, no all-pairs, and a boilerplate gram shared by
    // a million positions costs one aggregate row. Scale: the full
    // gram frame is corpus-linear in characters — the exact price;
    // the winnowed q141 remains the cheap default, this is the
    // exactness tier (cached once, consumed by both recurrence sides
    // per the self-join rule).
    Q(
      "q189_exact_dup_cover",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("n_chars"))
          .filter(col("n_chars") >= SpanK)
          .repartition(col("doc_id"))
          .select(
            col("doc_id"), col("n_chars"),
            explode(sequence(lit(1L), col("n_chars") - (SpanK - 1))).as("pos"),
            col("text"))
          .select(
            col("doc_id"), col("n_chars"), col("pos"),
            TextFns.h60(expr(s"substring(text, pos, $SpanK)")).as("fp"))
          .cache()
        val recurring = grams
          .groupBy(col("fp")).agg(count(lit(1)).as("n"))
          .filter(col("n") >= 2)
          .select(col("fp"))
        islandize(grams.join(recurring, Seq("fp"), "left_semi"))
          .withColumn("len", col("e") - col("s") + 1)
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_spans"),
            sum(col("len")).as("dup_chars"),
            max(col("len")).as("max_span"),
            max(col("n_chars")).as("nc"))
          .select(
            col("doc_id"), col("n_spans"), col("dup_chars"), col("max_span"),
            expr("dup_chars * 1000000 div nc").as("dup_ppm"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH p AS (
          SELECT doc_id, n_chars, text,
                 unnest(generate_series(1, CAST(n_chars - ${SpanK - 1} AS BIGINT))) AS pos
          FROM documents WHERE n_chars >= $SpanK),
        anch AS MATERIALIZED (
          SELECT doc_id, n_chars, pos,
                 ${T.h60(s"substr(text, CAST(pos AS INT), $SpanK)")} AS fp
          FROM p),
        rec AS (SELECT fp FROM anch GROUP BY fp HAVING COUNT(*) >= 2),
        ${islandsSql("fp IN (SELECT fp FROM rec)")}
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
               CAST(MAX(e - s + 1) AS BIGINT) AS max_span,
               CAST((CAST(SUM(e - s + 1) AS BIGINT) * 1000000) // MAX(n_chars) AS BIGINT) AS dup_ppm
        FROM sp GROUP BY doc_id ORDER BY doc_id""")
    ),

    // Duplicated-span REMOVAL — the consumer of q141's cut-list: emit
    // the cleaned corpus with every duplicated span excised
    // (conservative cleaning: both copies go; survivor-keeping is the
    // doc-level q138 policy). The kept text is rebuilt from the
    // COMPLEMENT of the merged islands as segment rows (head gap +
    // inter-island gaps via lag, + tail) joined back to the doc text,
    // then an ordered string-agg — no fold, so Spark (array_sort +
    // array_join over collected (start, piece) structs) and DuckDB
    // (string_agg ORDER BY) rebuild byte-identically; docs with no
    // duplicated span pass through verbatim via the left join.
    // Output is md5(clean_text) + exact char accounting, pinned by the
    // invariant orig_chars = cut_chars + clean_chars for every row.
    // Scale: islands are tiny next to the corpus (duplicated regions
    // only); both joins are doc_id-keyed with a broadcast-size right
    // side, the string-agg shuffles only span-carrying docs.
    Q(
      "q142_span_removal",
      (s, d) => {
        val islands = dupIslands(s, d).cache()
        val wDoc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("s"))
        // complement segments: [prev_e+1, s-1] before each island (head
        // gap when no predecessor), plus the per-doc tail [max_e+1, n]
        val gaps = islands
          .withColumn("gs", coalesce(lag(col("e"), 1).over(wDoc) + 1, lit(1L)))
          .withColumn("ge", col("s") - 1)
          .select(col("doc_id"), col("gs"), col("ge"))
        val tails = islands
          .groupBy(col("doc_id"))
          .agg(max(col("e")).as("me"), max(col("n_chars")).as("nc"))
          .select(col("doc_id"), (col("me") + 1).as("gs"), col("nc").as("ge"))
        val segments = gaps.unionByName(tails).filter(col("ge") >= col("gs"))
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"), col("n_chars"))
        val rebuilt = segments
          .join(docs, Seq("doc_id"))
          .select(
            col("doc_id"), col("gs"),
            expr("substring(text, gs, ge - gs + 1)").as("piece"))
          .groupBy(col("doc_id"))
          .agg(
            array_join(
              transform(
                array_sort(collect_list(struct(col("gs"), col("piece")))),
                x => x.getField("piece")),
              "").as("clean_text"))
        val cuts = islands
          .groupBy(col("doc_id"))
          .agg(sum(col("e") - col("s") + 1).as("cut_chars"))
        docs
          .join(cuts, Seq("doc_id"), "left")
          .join(rebuilt, Seq("doc_id"), "left")
          .withColumn("cut_chars", coalesce(col("cut_chars"), lit(0L)))
          // a fully-duplicated doc has islands but zero kept segments
          .withColumn(
            "clean",
            when(col("cut_chars") === 0, col("text"))
              .otherwise(coalesce(col("clean_text"), lit(""))))
          .select(
            col("doc_id"),
            col("n_chars").as("orig_chars"),
            col("cut_chars"),
            length(col("clean")).cast("long").as("clean_chars"),
            md5(col("clean")).as("clean_md5"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $dupSpansSql,
        gaps AS (
          SELECT doc_id,
                 COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s) + 1, 1) AS gs,
                 s - 1 AS ge
          FROM sp),
        tails AS (
          SELECT doc_id, MAX(e) + 1 AS gs, MAX(n_chars) AS ge FROM sp GROUP BY doc_id),
        seg AS (
          SELECT * FROM gaps WHERE ge >= gs
          UNION ALL
          SELECT * FROM tails WHERE ge >= gs),
        rebuilt AS (
          SELECT seg.doc_id,
                 string_agg(substr(d.text, CAST(seg.gs AS INT), CAST(seg.ge - seg.gs + 1 AS INT)),
                            '' ORDER BY seg.gs) AS clean_text
          FROM seg JOIN documents d ON seg.doc_id = d.doc_id
          GROUP BY seg.doc_id),
        cuts AS (
          SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS cut_chars FROM sp GROUP BY doc_id)
        SELECT d.doc_id,
               d.n_chars AS orig_chars,
               COALESCE(c.cut_chars, 0) AS cut_chars,
               CAST(length(CASE WHEN COALESCE(c.cut_chars, 0) = 0 THEN d.text
                                ELSE COALESCE(r.clean_text, '') END) AS BIGINT) AS clean_chars,
               md5(CASE WHEN COALESCE(c.cut_chars, 0) = 0 THEN d.text
                        ELSE COALESCE(r.clean_text, '') END) AS clean_md5
        FROM documents d
        LEFT JOIN cuts c ON d.doc_id = c.doc_id
        LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        ORDER BY d.doc_id""")
    ),

    // INCREMENTAL span detection — q141's verb at delivery time,
    // completing the incremental family (exact q119, near-dup q130,
    // spans q144): the new batch's anchors (doc_id >= 400, the q119
    // split convention) probe the EXISTING corpus's anchor index
    // (doc_id < 400) and only index-matching anchors mark spans — the
    // question a nightly crawl asks ("which ranges of the new docs
    // duplicate what we already hold"), not q141's corpus-wide
    // recurrence (within-batch repeats are the NEXT full pass's job;
    // declared semantics). At warehouse scale the index is a persisted
    // fp table bucketed on fp — the q119 posture: only the incoming
    // batch's anchors shuffle per delivery, the index side never
    // re-exchanges. Here both sides derive from one cached anchor pass
    // (the cache standing in for the materialized index).
    Q(
      "q144_incremental_spans",
      (s, d) => {
        val anchors = spanAnchors(s, d)
        val idx = anchors.filter(col("doc_id") < 400).select(col("fp")).distinct()
        val marked = anchors
          .filter(col("doc_id") >= 400)
          .join(idx, Seq("fp"), "left_semi")
        islandize(marked)
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_dup_spans"),
            sum(col("e") - col("s") + 1).as("dup_chars"),
            max(col("n_chars")).as("nc"))
          .select(
            col("doc_id"), col("n_dup_spans"), col("dup_chars"),
            expr("dup_chars * 1000000 div nc").as("dup_ppm"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $anchorsSql,
        idx AS (SELECT DISTINCT fp FROM anch WHERE doc_id < 400),
        ${islandsSql("doc_id >= 400 AND fp IN (SELECT fp FROM idx)")}
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
               CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
               CAST((CAST(SUM(e - s + 1) AS BIGINT) * 1000000) // MAX(n_chars) AS BIGINT) AS dup_ppm
        FROM sp GROUP BY doc_id ORDER BY doc_id""")
    )
  )
}
