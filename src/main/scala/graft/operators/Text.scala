package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, lexicon-based language ID, and document
  * fingerprinting. These are the building blocks a training-data
  * pipeline runs over every document, so each stays a narrow
  * whole-stage-codegen projection + one hash aggregate — no UDFs, no
  * shuffles beyond the final groupBy where one exists.
  */
object Text {
  import TextFns.{Sql => T}

  private[graft] def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).withColumn("tok", TextFns.tokens(col("text")))

  /** Integer-exact ratio: CAST(a AS DOUBLE)/b rounded to 6 places. */
  private def r6(a: Column, b: Column): Column =
    round(a.cast("double") / b.cast("double"), 6)

  /** Most-frequent-token count of a token array, O(n log n) per row.
    * The naive form — `array_max(transform(array_distinct(tok), w =>
    * size(filter(tok, _ === w))))` — is O(len × distinct) per document:
    * invisible on ~300-char docs but quadratic on a heavy-tail long
    * document (50k distinct tokens → 2.5B comparisons for one row).
    * This form sorts the array once and takes the longest run — still
    * map-only (no explode/shuffle), linear after the sort, same result
    * including null on an empty array (matching array_max's semantics,
    * which the micro-rational division downstream relies on).
    *
    * Null tokens are filtered first: the null-safe `<=>` run compare
    * would otherwise COUNT a null run, where the array_max/filter form
    * it replaced (`===`) never matched nulls. Every current caller
    * tokenizes via split() (null-free), but the helper is reusable, so
    * the equivalence is enforced rather than assumed.
    */
  private[graft] def topRunCount(tokRaw: Column): Column = {
    val tok = filter(tokRaw, w => w.isNotNull)
    val init = struct(
      lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    val scanned = aggregate(
      array_sort(tok),
      init,
      (s, w) => {
        val run = when(s.getField("prev") <=> w, s.getField("run") + 1L).otherwise(lit(1L))
        struct(w.as("prev"), run.as("run"), greatest(s.getField("best"), run).as("best"))
      },
      s => s.getField("best"))
    when(size(tok) === 0, lit(null).cast("long")).otherwise(scanned)
  }

  /** The q186 repetition signals over any (doc_id, tok) frame — exact
    * integer micro-rationals throughout, per-row array arithmetic only
    * (map-only at any scale). See the q186 Q entry for the rationale
    * and threshold calibration.
    */
  private[graft] def gopherRepetition(docsWithTok: DataFrame): DataFrame = {
    val g2 = TextFns.shingles(col("tok"), 2)
    val g3 = TextFns.shingles(col("tok"), 3)
    docsWithTok
      .select(
        col("doc_id"),
        size(col("tok")).cast("long").as("n_words"),
        topRunCount(col("tok")).as("top_count"),
        size(g2).cast("long").as("n2"),
        size(array_distinct(g2)).cast("long").as("d2"),
        size(g3).cast("long").as("n3"),
        size(array_distinct(g3)).cast("long").as("d3"))
      .select(
        col("doc_id"), col("n_words"),
        expr("top_count * 1000000 div n_words").as("top_word_micro"),
        when(col("n2") === 0, lit(0L))
          .otherwise(expr("(n2 - d2) * 1000000 div n2")).as("dup_2gram_micro"),
        when(col("n3") === 0, lit(0L))
          .otherwise(expr("(n3 - d3) * 1000000 div n3")).as("dup_3gram_micro"))
      .withColumn("keep",
        col("top_word_micro") <= 120000L &&
          col("dup_2gram_micro") <= 50000L &&
          col("dup_3gram_micro") === 0L)
  }

  private val StopWords = Seq("the", "a", "or", "and", "of", "to", "in")
  private val stopList = StopWords.map(w => s"'$w'").mkString(", ")

  /** Standing language-mix index for q175: the 90% bucket's per-lang
    * histogram committed once per dataset, through [[graft.IndexStore]],
    * as a pinned snapshot version, so repeated executions (bench warmup
    * + timed runs, Verify) reuse one committed snapshot instead of
    * rescanning the standing bucket per run. Registered in
    * [[graft.Prebuild]] so Bench builds it untimed at the target SF.
    */
  private[graft] def mixIndex(s: org.apache.spark.sql.SparkSession, d: String): (String, Int) = {
    val dir = graft.IndexStore.resolve(s, "mix_index", 1, d, Seq("documents.parquet")) {
      dirOf =>
        val baseHist = Tables.documents(s, d)
          .select(col("lang"),
            (TextFns.h60(col("doc_id").cast("string")) % 100).as("bucket"))
          .filter(col("bucket") < 90)
          .groupBy(col("lang")).agg(count(lit(1)).as("n_base"))
        Map("hist" -> Snapshots.commit(baseHist, dirOf("hist"), replace = true))
    }("hist")
    (dir, Snapshots.versions(s, dir).last)
  }

  /** (lang, marker-token lexicon) pairs for the n-gram/lexicon language
    * ID heuristic. Marker sets are disjoint; prediction is argmax hit
    * count with a fixed tie-break order (en > es > de > fr > zh).
    */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "or"),
    "es" -> Seq("data", "row", "line"),
    "de" -> Seq("window", "group", "agg"),
    "fr" -> Seq("filter", "merge", "sort"),
    "zh" -> Seq("spark", "batch", "stream")
  )

  // ---------------------------------------------------------------
  // q170: BPE-style merge-pair training — tokenizer induction as a
  // corpus query. The q81/q94 surfaces APPLY a tokenization; this
  // LEARNS one: the Sennrich BPE loop (count adjacent pairs → merge
  // the most frequent → repeat), run for a fixed round count over
  // whitespace tokens, exactly the subword-vocabulary induction step
  // of an LLM data pipeline. TRAINING cost class (rounds are
  // inherently sequential, like the q56 Lloyd loop).
  //
  // Determinism/parity design:
  //  - the winning pair is argmax(count) with (count DESC, pair ASC)
  //    tie-break — a total order, replayed verbatim by the oracle;
  //  - merged tokens are the SPACE-JOINED pair string (whitespace
  //    tokens contain no spaces, so round-1 merges cannot collide; a
  //    later bigram spanning a merged token flattens to the same
  //    string in both engines — representational, deterministic);
  //  - greedy left-to-right application over overlapping runs
  //    ("a a a" merges positions 1-2, not 2-3) is the gaps-and-islands
  //    window: consecutive match positions form a run, odd ranks
  //    within a run apply — identical SQL semantics in both engines,
  //    no fold over arrays (DuckDB's list_reduce cannot build lists).
  //
  // Scale shape: per round one corpus-linear shingle count, a top-1
  // (TakeOrdered, no global sort materialization), two doc-keyed
  // windows over the exploded positions (docs are bounded, so window
  // partitions are), and a doc-keyed rebuild — no shuffle wider than
  // the corpus, rounds sequenced by eager checkpoints (declared).
  private[graft] val BpeRounds = 5

  private[graft] def bpeTrain(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    bpeTrainOf(docs(s, d).select(col("doc_id"), col("tok")))

  /** One greedy left-to-right application of the merge pair `pair`
    * over a (doc_id, tok) frame — the shared round body of
    * [[bpeTrainOf]] (which recomputes the top pair per round) and the
    * FROZEN-rule apply path (q179, which replays pinned picks from the
    * tokenizer index). The pair arrives as a COLLECTED string, not a
    * 1-row frame: the pick is a constant-size scalar (the Snapshots
    * metadata-collect class — never data rows), and the former 1-row
    * crossJoin shape cost every round a pick checkpoint job, an
    * isEmpty probe job, and a broadcast build on a query whose wall
    * time is driver-job-sequencing-bound (85 jobs, r18 JobCount).
    * Returns (applied match positions, rebuilt frame); the rebuilt
    * frame is eagerly checkpointed (rounds are inherently sequential),
    * which also materializes `applied`'s cache for the stats arms.
    */
  private[graft] def bpeApplyRound(
      cur: DataFrame, pair: String,
      exsh: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val pick = lit(pair)
    val wdoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // match positions straight off the token arrays via the SAME
    // shingle primitive the pick's counts came from (shingle at
    // 0-based array index p = tokens p,p+1 — exactly the lead()-built
    // bigram at exploded pos p): map-side, which removes the former
    // full-corpus exchange+sort of the exploded frame that the lead()
    // window needed every round (guide §2.4). The run-grouping windows
    // below then operate on the MATCHES only. Training passes the
    // round's CACHED positional-shingle frame (`exsh`, shared with the
    // pick count) so this scan is a cache read, not a second explode.
    val matches = exsh.getOrElse(posShingles(cur))
      .filter(col("bigr") === pick)
      .select(col("doc_id"), col("pos"))
    val applied = matches
      .withColumn("grp", col("pos") - row_number().over(wdoc))
      .withColumn("rn2",
        row_number().over(Window.partitionBy(col("doc_id"), col("grp")).orderBy(col("pos"))))
      .filter(col("rn2") % 2 === 1)
      .select(col("doc_id"), col("pos"))
      .cache() // materialized by the rebuilt checkpoint below; read
               // again by the training stats arms at the final action
    // Rebuild MAP-SIDE over the intact token arrays (r18, guide §2.3/
    // §2.4): the former rebuild posexploded the whole corpus, joined
    // per-token against the applied positions twice, and re-collected
    // every document through a full-corpus groupBy(collect_list)+sort
    // shuffle — per round. But the applied positions are a tiny
    // per-doc set; aggregating THEM to one array per touched doc and
    // joining doc-keyed moves only match-sized data, and the array
    // surgery is three codegen-friendly higher-order expressions over
    // `tok` (docs are bounded, so per-row work is): keep position p
    // unless p−1 was applied (it was consumed by the merge to its
    // left), emit the merged pair at applied p, the original token
    // otherwise. Untouched docs (aps null) pass through unchanged.
    val perDoc = applied.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("aps"))
    val rebuiltTok = transform(
      filter(
        sequence(lit(0), size(col("tok")) - 1),
        p => !array_contains(col("aps"), p - 1)),
      p => when(array_contains(col("aps"), p), pick)
        .otherwise(element_at(col("tok"), p + 1)))
    val rebuilt = cur
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("aps").isNull, col("tok")).otherwise(rebuiltTok).as("tok"))
      .localCheckpoint(true)
    (applied, rebuilt)
  }

  /** The round's positional bigram-shingle frame (doc_id, pos, bigr) —
    * one explode serving BOTH the pick count and the match scan.
    */
  private def posShingles(cur: DataFrame): DataFrame =
    cur.select(col("doc_id"),
      posexplode(TextFns.shingles(col("tok"), 2)).as(Seq("pos", "bigr")))

  /** The merge-training loop over an explicit (doc_id, tok) frame —
    * the unit CorpusOpsSpec drives on hand-checkable corpora.
    */
  private[graft] def bpeTrainOf(cur0: DataFrame): DataFrame =
    // data-derived shuffle sizing for the round loop ([[graft.Parts]]):
    // per-round windows/joins on a sub-MB token corpus ran 32-wide
    graft.Parts.sized(cur0) {
    var cur = cur0.localCheckpoint(true)
    var stats = Vector.empty[DataFrame]
    for (i <- 1 to BpeRounds) {
      // ONE shingle explode per round, cached: the pick count and the
      // match scan both read it (formerly two independent explodes of
      // `cur` — guide §2.4's shared-exchange discipline applied to a
      // shared scan); freed as soon as the round's checkpoints land
      val exsh = posShingles(cur).cache()
      // the pick is one (pair, count) scalar — TakeOrdered to the
      // driver (constant-size, the Snapshots metadata-collect class);
      // the former 1-row-frame shape cost a checkpoint job, an
      // isEmpty job, and a broadcast per round on a driver-job-bound
      // query (see [[bpeApplyRound]])
      val pickRow = exsh
        .groupBy(col("bigr").as("pair")).agg(count(lit(1)).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair").asc)
        .limit(1)
        .collect()
      // degenerate-round guard: a round with no bigrams anywhere must
      // SKIP, not empty `cur` (unreachable on the graded corpora)
      if (pickRow.nonEmpty) {
        val (pair, pairCount) = (pickRow(0).getString(0), pickRow(0).getLong(1))
        val (applied, rebuilt) = bpeApplyRound(cur, pair, Some(exsh))
        exsh.unpersist(false) // applied/rebuilt are already materialized
        stats :+= applied.agg(count(lit(1)).as("merges_applied"))
          .crossJoin(rebuilt.agg(sum(size(col("tok"))).as("tokens_after")))
          .select(
            lit(i).as("merge_rank"), lit(pair).as("pair"),
            lit(pairCount).as("pair_count"),
            col("merges_applied"), col("tokens_after"))
        cur = rebuilt
      }
    }
    // eager final materialization: the stats arms' exchanges must run
    // inside the sizing window, not lazily at the caller's action
    stats.reduce(_.unionByName(_)).localCheckpoint(true)
    }.orderBy(col("merge_rank"))

  /** Standing shard index for q183: the 90% bucket's q182-style shard
    * assignment committed once per dataset, through
    * [[graft.IndexStore]], with the standing doc count as commit
    * metadata — shipped shards are IMMUTABLE, so a delivery only needs
    * the count scalar to know where its appended shards start (the
    * pinned table exists so the append contract is auditable:
    * GraphSpec-style disjointness pins read it back).
    * Registered in [[graft.Prebuild]].
    */
  private[graft] def shardIndex(
      s: org.apache.spark.sql.SparkSession, d: String): (String, Int, Long) = {
    val dir = graft.IndexStore.resolve(s, "shard_index", 1, d, Seq("documents.parquet")) {
      dirOf =>
        val ShardSize = 64
        val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
        val keyed = Tables.documents(s, d)
          .select(col("doc_id"),
            TextFns.h60(concat(col("doc_id").cast("string"), lit("|sh"))).as("h"),
            (TextFns.h60(col("doc_id").cast("string")) % 100).as("bucket"),
            lit(1L).as("one"))
          .filter(col("bucket") < 90)
          .select(col("doc_id"), col("h"), col("one"))
        val assigned = Relational.globalCumsum(keyed, Seq("h", "doc_id"), "one", nParts)
          .select(col("doc_id"),
            (col("running_total").cast("long") - 1).as("rk"))
          .select(col("doc_id"),
            expr(s"rk div $ShardSize").cast("long").as("shard"),
            (col("rk") % ShardSize).as("pos_in_shard"))
          .localCheckpoint(true)
        val n = assigned.count()
        Map("shards" -> Snapshots.commit(assigned, dirOf("shards"), replace = true,
          meta = Map("n_docs" -> n.toString)))
    }("shards")
    // the standing count rides the commit metadata, so a reusing JVM
    // never rescans the corpus for it
    val v = Snapshots.versions(s, dir).last
    (dir, v, Snapshots.meta(s, dir, v)("n_docs").toLong)
  }

  /** Standing tokenizer index for q179: the [[BpeRounds]] merge rules
    * TRAINED on the 90% standing bucket, committed once per dataset,
    * through [[graft.IndexStore]], as a pinned snapshot — train once,
    * apply to every delivery (the deployment contract of a real
    * tokenizer; q170 is the training surface over the full corpus, this
    * index freezes the production rules). Registered in
    * [[graft.Prebuild]].
    */
  private[graft] def bpeRulesIndex(
      s: org.apache.spark.sql.SparkSession, d: String): (String, Int) = {
    val dir = graft.IndexStore.resolve(s, "bpe_rules", 1, d, Seq("documents.parquet")) {
      dirOf =>
        val base = docs(s, d)
          .select(col("doc_id"), col("tok"),
            (TextFns.h60(col("doc_id").cast("string")) % 100).as("bucket"))
          .filter(col("bucket") < 90)
          .select(col("doc_id"), col("tok"))
        val rules = bpeTrainOf(base).select(col("merge_rank"), col("pair"))
          .localCheckpoint(true)
        // the frozen-apply contract (q179) replays ranks 1..BpeRounds in
        // order; a gap would make bpeApplyRound's guard silently skip a
        // round — fail LOUDLY at index-build time instead
        val nRules = rules.count()
        require(nRules == BpeRounds,
          s"bpeRulesIndex: trained $nRules rules, expected $BpeRounds (degenerate corpus?)")
        Map("rules" -> Snapshots.commit(rules, dirOf("rules"), replace = true))
    }("rules")
    (dir, Snapshots.versions(s, dir).last)
  }

  private[graft] val bpeTrainSql: String = {
    val rounds = (1 to BpeRounds).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""p$i AS MATERIALIZED (
           SELECT s AS pair, CAST(COUNT(*) AS BIGINT) AS pair_count
           FROM (SELECT unnest(${T.shingles("tok", 2)}) AS s FROM $prev)
           GROUP BY s ORDER BY pair_count DESC, pair ASC LIMIT 1),
         e$i AS MATERIALIZED (
           SELECT doc_id, unnest(generate_series(1, len(tok))) AS pos, unnest(tok) AS t
           FROM $prev),
         a$i AS MATERIALIZED (
           SELECT doc_id, pos FROM (
             SELECT doc_id, pos,
                    ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY pos) AS rn2
             FROM (SELECT m.doc_id, m.pos,
                          m.pos - ROW_NUMBER() OVER (PARTITION BY m.doc_id ORDER BY m.pos) AS grp
                   FROM (SELECT e.doc_id, e.pos,
                                (e.t || ' ' || lead(e.t) OVER (PARTITION BY e.doc_id ORDER BY e.pos))
                                  = p.pair AS is_m
                         FROM e$i e CROSS JOIN p$i p) m
                   WHERE m.is_m))
           WHERE rn2 % 2 = 1),
         r$i AS MATERIALIZED (
           SELECT e.doc_id,
                  list(CASE WHEN a.pos IS NOT NULL THEN p.pair ELSE e.t END ORDER BY e.pos) AS tok
           FROM e$i e
           CROSS JOIN p$i p
           LEFT JOIN a$i a ON e.doc_id = a.doc_id AND e.pos = a.pos
           LEFT JOIN a$i ab ON e.doc_id = ab.doc_id AND e.pos = ab.pos + 1
           WHERE ab.pos IS NULL
           GROUP BY e.doc_id),
         st$i AS MATERIALIZED (
           SELECT CAST($i AS INT) AS merge_rank, p.pair, p.pair_count,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM a$i) AS merges_applied,
                  (SELECT CAST(SUM(len(tok)) AS BIGINT) FROM r$i) AS tokens_after
           FROM p$i p)"""
    }.mkString(",\n    ")
    val un = (1 to BpeRounds).map(i => s"SELECT * FROM st$i").mkString(" UNION ALL ")
    s"""
    WITH r0 AS MATERIALIZED (SELECT doc_id, ${T.tokens} AS tok FROM documents),
    $rounds
    SELECT merge_rank, pair, pair_count, merges_applied, tokens_after
    FROM ($un) ORDER BY merge_rank"""
  }

  /** q179's oracle: replay the tokenizer TRAINING on the 90% standing
    * bucket (the same 5-round chain as [[bpeTrainSql]], restricted to
    * the bucket), then replay the frozen-rule APPLICATION on the 10%
    * delivery — per-round pair p_i comes from the TRAIN chain, never
    * re-derived from the delivery. Every iterated CTE `AS MATERIALIZED`
    * (the q157 DuckDB-inlining hazard class).
    */
  private[graft] val bpeApplySql: String = {
    val h = T.h60("CAST(doc_id AS VARCHAR)")
    def mergeBlocks(pfx: String, prev: String, i: Int): String =
      s"""${pfx}e$i AS MATERIALIZED (
           SELECT doc_id, unnest(generate_series(1, len(tok))) AS pos, unnest(tok) AS t
           FROM $prev),
         ${pfx}a$i AS MATERIALIZED (
           SELECT doc_id, pos FROM (
             SELECT doc_id, pos,
                    ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY pos) AS rn2
             FROM (SELECT m.doc_id, m.pos,
                          m.pos - ROW_NUMBER() OVER (PARTITION BY m.doc_id ORDER BY m.pos) AS grp
                   FROM (SELECT e.doc_id, e.pos,
                                (e.t || ' ' || lead(e.t) OVER (PARTITION BY e.doc_id ORDER BY e.pos))
                                  = p.pair AS is_m
                         FROM ${pfx}e$i e CROSS JOIN p$i p) m
                   WHERE m.is_m))
           WHERE rn2 % 2 = 1),
         ${pfx}r$i AS MATERIALIZED (
           SELECT e.doc_id,
                  list(CASE WHEN a.pos IS NOT NULL THEN p.pair ELSE e.t END ORDER BY e.pos) AS tok
           FROM ${pfx}e$i e
           CROSS JOIN p$i p
           LEFT JOIN ${pfx}a$i a ON e.doc_id = a.doc_id AND e.pos = a.pos
           LEFT JOIN ${pfx}a$i ab ON e.doc_id = ab.doc_id AND e.pos = ab.pos + 1
           WHERE ab.pos IS NULL
           GROUP BY e.doc_id)"""
    val trainRounds = (1 to BpeRounds).map { i =>
      val prev = if (i == 1) "b0" else s"br${i - 1}"
      s"""p$i AS MATERIALIZED (
           SELECT s AS pair, CAST(COUNT(*) AS BIGINT) AS pair_count
           FROM (SELECT unnest(${T.shingles("tok", 2)}) AS s FROM $prev)
           GROUP BY s ORDER BY pair_count DESC, pair ASC LIMIT 1),
         ${mergeBlocks("b", prev, i)}"""
    }.mkString(",\n    ")
    val applyRounds = (1 to BpeRounds).map { i =>
      val prev = if (i == 1) "d0" else s"dr${i - 1}"
      mergeBlocks("d", prev, i)
    }.mkString(",\n    ")
    s"""
    WITH s0 AS MATERIALIZED (
      SELECT doc_id, ${T.tokens} AS tok, ($h % 100) AS bucket FROM documents),
    b0 AS MATERIALIZED (SELECT doc_id, tok FROM s0 WHERE bucket < 90),
    d0 AS MATERIALIZED (SELECT doc_id, tok FROM s0 WHERE bucket >= 90),
    $trainRounds,
    $applyRounds
    SELECT d0.doc_id,
           CAST(len(d0.tok) AS INT) AS n_before,
           CAST(len(COALESCE(dr$BpeRounds.tok, d0.tok)) AS INT) AS n_after
    FROM d0 LEFT JOIN dr$BpeRounds ON d0.doc_id = dr$BpeRounds.doc_id
    ORDER BY d0.doc_id"""
  }

  val all: Seq[Q] = Seq(
    Q(
      "q40_token_stats",
      (s, d) =>
        docs(s, d).select(
          col("doc_id"),
          size(col("tok")).as("n_tokens"),
          size(array_distinct(col("tok"))).as("n_distinct"),
          round(
            aggregate(col("tok"), lit(0), (acc, t) => acc + length(t)).cast("double")
              / size(col("tok")),
            6).as("avg_token_len"),
          col("n_chars")
        ).orderBy(col("doc_id")),
      Some(s"""
        WITH t AS (SELECT doc_id, n_chars, ${T.tokens} AS tok FROM documents)
        SELECT doc_id,
               CAST(len(tok) AS INT) AS n_tokens,
               CAST(len(list_distinct(tok)) AS INT) AS n_distinct,
               ROUND(CAST(list_sum(list_transform(tok, x -> len(x))) AS DOUBLE)
                     / CAST(len(tok) AS DOUBLE), 6) AS avg_token_len,
               n_chars
        FROM t ORDER BY doc_id""")
    ),

    // quality scoring: stopword ratio, vocabulary diversity, length band
    Q(
      "q41_quality_score",
      (s, d) =>
        docs(s, d)
          .select(
            col("doc_id"),
            size(col("tok")).as("n_tokens"),
            size(filter(col("tok"), t => t.isin(StopWords: _*))).as("n_stop"),
            size(array_distinct(col("tok"))).as("n_distinct")
          )
          .select(
            col("doc_id"),
            col("n_tokens"),
            r6(col("n_stop"), col("n_tokens")).as("stop_ratio"),
            r6(col("n_distinct"), col("n_tokens")).as("distinct_ratio"),
            when(
              col("n_tokens").between(10, 120)
                && r6(col("n_stop"), col("n_tokens")) <= 0.3
                && r6(col("n_distinct"), col("n_tokens")) >= 0.4,
              "good").otherwise("low").as("quality")
          )
          .orderBy(col("doc_id")),
      Some(s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents),
        m AS (SELECT doc_id,
                     CAST(len(tok) AS INT) AS n_tokens,
                     CAST(len(list_filter(tok, x -> x IN ($stopList))) AS INT) AS n_stop,
                     CAST(len(list_distinct(tok)) AS INT) AS n_distinct
              FROM t)
        SELECT doc_id, n_tokens,
               ROUND(CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE), 6) AS stop_ratio,
               ROUND(CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE), 6) AS distinct_ratio,
               CASE WHEN n_tokens BETWEEN 10 AND 120
                         AND ROUND(CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE), 6) <= 0.3
                         AND ROUND(CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE), 6) >= 0.4
                    THEN 'good' ELSE 'low' END AS quality
        FROM m ORDER BY doc_id""")
    ),

    // (implementation in [[gopherRepetition]]; CorpusOpsSpec drives it
    // on hand-checkable fixtures)
    // Gopher-style REPETITION filter (Rae et al. 2021, §A1.1 — the
    // public repetition-signal family, adapted word-level to this
    // corpus's single-line documents): per doc, the top-word mass and
    // the duplicated 2-/3-gram mass, each as an EXACT integer
    // micro-rational (count×1e6 div total — no doubles, so the filter
    // decision can never flip between engines), plus the keep flag at
    // thresholds calibrated to this corpus's distribution (medians:
    // top-word 0.093, dup-2gram 0.028, dup-3gram 0) the way Gopher's
    // 0.2/0.2/0.18 were to MassiveText's. Scale shape: all signals
    // are per-row array arithmetic over the already-split token
    // array — a MAP-ONLY pass, zero shuffles before the output sort;
    // at 100 TB this is the cheapest possible cleaning verb.
    Q(
      "q186_gopher_repetition",
      // repartition BETWEEN scan and tokenize: the per-row HOF
      // arithmetic is the cost here, and without a shuffle its
      // parallelism equals the FILE's row-group layout — a one-row-
      // group corpus file (the sf10 sweep's documents.parquet) ran the
      // whole pipeline on ONE core (>600 s DNF); with the repartition
      // the same input finishes in seconds. One corpus-linear shuffle
      // of raw text buys layout-independent parallelism — the same
      // trade spanAnchors makes, and the CLAUDE.md scale rule q186's
      // original "zero shuffles" claim wrongly skipped.
      (s, d) => gopherRepetition(
        Tables.documents(s, d)
          .repartition(col("doc_id"))
          .withColumn("tok", TextFns.tokens(col("text")))
      ).orderBy(col("doc_id")),
      Some(s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents),
        g AS (SELECT doc_id,
                     CAST(len(tok) AS BIGINT) AS n_words,
                     CAST(list_max(list_transform(list_distinct(tok),
                          w -> len(list_filter(tok, x -> x = w)))) AS BIGINT) AS top_count,
                     list_transform(range(1, len(tok)),
                          i -> tok[i] || ' ' || tok[i+1]) AS g2,
                     list_transform(range(1, len(tok)-1),
                          i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]) AS g3
              FROM t),
        m AS (SELECT doc_id, n_words,
                     CAST(top_count * 1000000 // n_words AS BIGINT) AS top_word_micro,
                     CAST(CASE WHEN len(g2) = 0 THEN 0
                          ELSE 1000000 * (len(g2) - len(list_distinct(g2))) // len(g2)
                          END AS BIGINT) AS dup_2gram_micro,
                     CAST(CASE WHEN len(g3) = 0 THEN 0
                          ELSE 1000000 * (len(g3) - len(list_distinct(g3))) // len(g3)
                          END AS BIGINT) AS dup_3gram_micro
              FROM g)
        SELECT doc_id, n_words, top_word_micro, dup_2gram_micro, dup_3gram_micro,
               (top_word_micro <= 120000 AND dup_2gram_micro <= 50000
                AND dup_3gram_micro = 0) AS keep
        FROM m ORDER BY doc_id""")
    ),

    // lexicon language-ID heuristic with deterministic argmax tie-break
    Q(
      "q42_lang_id",
      (s, d) => {
        val scored = docs(s, d).select(
          col("doc_id") +: col("lang") +:
            Markers.map { case (l, ws) =>
              size(filter(col("tok"), t => t.isin(ws: _*))).as(s"s_$l")
            }: _*
        )
        val langs = Markers.map(_._1)
        // argmax with fixed-order tie-break: first lang >= all later ones
        val pred = langs.init.zipWithIndex
          .foldRight(lit(langs.last): Column) { case ((l, i), rest) =>
            val later = langs.drop(i + 1)
            when(later.map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _), l)
              .otherwise(rest)
          }
        scored
          .withColumn("predicted", pred)
          .withColumn("hit", (col("predicted") === col("lang")).cast(IntegerType))
          .orderBy(col("doc_id"))
      },
      Some {
        val scores = Markers.map { case (l, ws) =>
          val list = ws.map(w => s"'$w'").mkString(", ")
          s"CAST(len(list_filter(tok, x -> x IN ($list))) AS INT) AS s_$l"
        }.mkString(",\n                     ")
        val langs = Markers.map(_._1)
        val caseExpr = langs.init.zipWithIndex
          .map { case (l, i) =>
            val conds = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
            s"WHEN $conds THEN '$l'"
          }
          .mkString("\n                    ") + s"\n                    ELSE '${langs.last}'"
        s"""
        WITH t AS (SELECT doc_id, lang, ${T.tokens} AS tok FROM documents),
        m AS (SELECT doc_id, lang,
                     $scores
              FROM t)
        SELECT doc_id, lang, s_en, s_es, s_de, s_fr, s_zh,
               CASE $caseExpr END AS predicted,
               CAST(CASE $caseExpr END = lang AS INT) AS hit
        FROM m ORDER BY doc_id"""
      }
    ),

    // document fingerprinting: md5 over normalized text + 60-bit int form
    Q(
      "q43_fingerprint",
      (s, d) =>
        docs(s, d)
          .select(
            col("doc_id"),
            md5(array_join(col("tok"), " ")).as("fp"),
            TextFns.h60(array_join(col("tok"), " ")).as("fp60")
          )
          .orderBy(col("doc_id")),
      Some(s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents)
        SELECT doc_id,
               md5(array_to_string(tok, ' ')) AS fp,
               ${T.h60("array_to_string(tok, ' ')")} AS fp60
        FROM t ORDER BY doc_id""")
    ),

    // word 3-gram shingling: totals plus hash-domain extrema per doc
    Q(
      "q44_shingle_stats",
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"), explode(TextFns.shingles(col("tok"), 3)).as("shingle"))
          .distinct()
          .select(col("doc_id"), TextFns.hmod(col("shingle")).as("hm"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_distinct_shingles"),
            min(col("hm")).as("min_h"),
            max(col("hm")).as("max_h")
          )
          .orderBy(col("doc_id")),
      Some(s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents),
        e AS (SELECT doc_id, unnest(${T.shingles("tok", 3)}) AS shingle FROM t),
        ds AS (SELECT DISTINCT doc_id, shingle FROM e)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_shingles,
               min(${T.hmod("shingle")}) AS min_h,
               max(${T.hmod("shingle")}) AS max_h
        FROM ds GROUP BY doc_id ORDER BY doc_id""")
    ),

    // BPE-ish sub-word piece counting: a GPT-2-style pretokenizer regex
    // (contraction suffixes, letter runs, digit runs, punctuation runs,
    // each with an optional leading space) — restricted to the
    // RE2-compatible subset (the original's \\s+(?!\\S) lookahead is not
    // RE2-expressible, and the oracle engine is RE2-based) so Java and
    // RE2 tokenize identically. Pure codegen projection, no UDF.
    Q(
      "q81_bpe_pieces",
      (s, d) => {
        val pat = """'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"""
        docs(s, d)
          .select(
            col("doc_id"),
            size(col("tok")).as("n_ws_tokens"),
            size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_pieces"))
          .withColumn("pieces_per_token", r6(col("n_pieces"), col("n_ws_tokens")))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, text, ${T.tokens} AS tok FROM documents)
        SELECT doc_id,
               CAST(len(tok) AS INT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text,
                 '''(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+')) AS INT) AS n_pieces,
               ROUND(CAST(len(regexp_extract_all(text,
                 '''(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+')) AS DOUBLE)
                 / CAST(len(tok) AS DOUBLE), 6) AS pieces_per_token
        FROM t ORDER BY doc_id""")
    ),

    // Rolling-hash document fingerprint: left fold h = (h*B + hmod(tok))
    // mod P over the token stream — order-sensitive (reordered docs get
    // different fingerprints, unlike a bag-of-shingles minimum), one
    // higher-order function per row, no shuffle. B*P stays < 2^38 so
    // the fold never overflows int64 in either engine.
    Q(
      "q82_rolling_fingerprint",
      (s, d) =>
        docs(s, d)
          .filter(size(col("tok")) > 0)
          .select(
            col("doc_id"),
            size(col("tok")).as("n_tokens"),
            aggregate(
              slice(col("tok"), lit(2), greatest(size(col("tok")) - 1, lit(0))),
              TextFns.hmod(col("tok").getItem(0)),
              (acc, t) => (acc * 131L + TextFns.hmod(t)) % TextFns.P)
              .as("rolling_fp"))
          .orderBy(col("doc_id")),
      Some(s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents)
        SELECT doc_id,
               CAST(len(tok) AS INT) AS n_tokens,
               list_reduce(list_transform(tok, x -> ${T.hmod("x")}),
                           (a, b) -> (a * 131 + b) % 1000000007) AS rolling_fp
        FROM t WHERE len(tok) > 0 ORDER BY doc_id""")
    ),

    // Training-shard assignment (sequence packing): documents are packed
    // greedily into ~TokenBudget-token shards per (lang, source) stream
    // in deterministic doc_id order — shard id = starting token offset
    // div budget. The running offset is a keyed window cumsum: the
    // shuffle is one exchange on (lang, source), and at corpus scale the
    // same assignment distributes as the classic two-phase cumsum
    // (per-partition partial sums -> broadcast offsets -> local scan);
    // the (lang, source) keying is what keeps any one window bounded to
    // a stream, not the corpus.
    Q(
      "q77_token_packing",
      (s, d) => {
        val budget = 4096
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"), col("source"))
          .orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        docs(s, d)
          .select(col("doc_id"), col("lang"), col("source"), size(col("tok")).cast("long").as("n_tokens"))
          .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .withColumn("shard", expr(s"cum_before div $budget").cast(IntegerType))
          .groupBy(col("lang"), col("source"), col("shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("shard_tokens"))
          .orderBy(col("lang"), col("source"), col("shard"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, lang, source, CAST(len(${T.tokens}) AS BIGINT) AS n_tokens
                   FROM documents),
        c AS (SELECT doc_id, lang, source, n_tokens,
                     COALESCE(CAST(SUM(n_tokens) OVER (
                       PARTITION BY lang, source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
              FROM t)
        SELECT lang, source, CAST(cum_before // 4096 AS INT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
        FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")
    ),

    // Deterministic hash-based train/eval split (the md5 bucket is a
    // pure projection — any worker, any engine, any day assigns a doc to
    // the same split; no RNG, no state). 90/10 by bucket, summarized
    // per (lang, split).
    Q(
      "q78_train_split",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"), col("lang"),
            (TextFns.h60(col("doc_id").cast("string")) % 100).as("bucket"))
          .withColumn("split", when(col("bucket") < 90, "train").otherwise("eval"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang"), col("split")),
      Some(s"""
        WITH t AS (SELECT doc_id, lang,
                          (${T.h60("CAST(doc_id AS VARCHAR)")} % 100) AS bucket
                   FROM documents)
        SELECT lang,
               CASE WHEN bucket < 90 THEN 'train' ELSE 'eval' END AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM t GROUP BY 1, 2 ORDER BY 1, 2""")
    ),

    // Keyword extraction: top-3 terms per doc by a log-free TF-IDF
    // score, tf * (N - df + 0.5) / (df + 0.5) — the BM25 idf core
    // without the log. Rational arithmetic keeps it decimal-exact in
    // both engines (a transcendental log could drift in the last ulp
    // and break the hash gate). Three shuffles: tf agg on (doc, token),
    // df agg on token, and the per-doc top-k window; the df table is
    // vocabulary-sized (Zipf-bounded), so at corpus scale it broadcasts
    // and the tf->df join never shuffles the big side. N arrives as a
    // broadcast scalar, not a collected literal.
    Q(
      "q87_tfidf_terms",
      (s, d) => {
        val tok = docs(s, d)
          .select(col("doc_id"), explode(col("tok")).as("token"))
        // tf feeds both the vocabulary agg and the final join (cache:
        // no exchange reuse across the two consumers)
        val tf = tok.groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
          .cache()
        // tf already has exactly one row per (doc, token), so document
        // frequency is a re-aggregation of tf — no second corpus scan
        val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
        val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("token"))
        tf.join(broadcast(df), "token")
          .crossJoin(broadcast(n))
          .withColumn(
            "score",
            round(
              col("tf").cast("double") * (col("n_docs") - col("df") + lit(0.5))
                / (col("df") + lit(0.5)),
              6))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"), col("score"))
          .orderBy(col("doc_id"), col("rank"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents),
        e AS (SELECT doc_id, unnest(tok) AS token FROM t),
        tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
               FROM e GROUP BY 1, 2),
        df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
               FROM (SELECT DISTINCT doc_id, token FROM e) GROUP BY 1),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.token, tf.tf, df.df,
                 ROUND(CAST(tf.tf AS DOUBLE) * (n.n_docs - df.df + 0.5)
                       / (df.df + 0.5), 6) AS score
          FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
        ranked AS (
          SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, token) AS INT) AS rank
          FROM scored)
        SELECT doc_id, rank, token, tf, df, score
        FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""")
    ),

    // Stratified corpus sampling: per-language keep rates (downsample
    // over-represented languages — the standard data-mix move), applied
    // through a salted md5 bucket so the decision is a pure projection:
    // any worker, any engine, any day keeps the same docs, and the salt
    // decorrelates it from q78's train/eval buckets. Rates live in a
    // broadcast config dim (joined, not hardcoded in the expression) —
    // exactly how a sampling config table would flow at scale.
    Q(
      "q88_stratified_sample",
      (s, d) => {
        import s.implicits._
        val rates = Seq(
          ("en", 50), ("es", 40), ("de", 30), ("fr", 20), ("zh", 10)
        ).toDF("lang", "keep_pct")
        Tables.documents(s, d)
          .select(
            col("doc_id"), col("lang"),
            (TextFns.h60(concat(lit("strat:"), col("doc_id").cast("string"))) % 100)
              .as("bucket"))
          .join(broadcast(rates), "lang")
          .filter(col("bucket") < col("keep_pct"))
          .select(col("doc_id"), col("lang"), col("bucket"), col("keep_pct"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH rates(lang, keep_pct) AS (
          VALUES ('en', 50), ('es', 40), ('de', 30), ('fr', 20), ('zh', 10)),
        t AS (SELECT doc_id, lang,
                     (${T.h60("'strat:' || CAST(doc_id AS VARCHAR)")} % 100) AS bucket
              FROM documents)
        SELECT t.doc_id, t.lang, t.bucket, r.keep_pct
        FROM t JOIN rates r ON t.lang = r.lang
        WHERE t.bucket < r.keep_pct
        ORDER BY t.doc_id""")
    ),

    // Temperature-based source mixing (the data-mix move behind
    // multi-corpus training sets): per-source keep rates are COMPUTED
    // FROM the corpus — weight w_s ∝ n_s^0.5 (temperature α = 0.5
    // flattens the source distribution), scaled to a 200-doc budget and
    // capped at keep-everything. Unlike q88's hardcoded config dim, the
    // rate table here is derived by a tiny per-source aggregate and
    // broadcast back; the keep decision stays the salted-md5-bucket
    // projection, so the sample is deterministic across workers,
    // engines, and reruns.
    //
    // Determinism of the computed rates: sqrt(n) is correctly-rounded
    // IEEE in both engines (identical bits); the cross-source
    // normalizer is summed as 6-dp DECIMAL (order-independent — a
    // double Σ would vary with aggregation order and could flip a
    // floor() boundary); the remaining double multiply/divide chain is
    // written with identical association in both engines, and the
    // bucket compare is integer-vs-integer.
    Q(
      "q117_mixture_sample",
      (s, d) => {
        val docsSrc = Tables.documents(s, d).select(col("doc_id"), col("source"))
        val stats = docsSrc.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("sw", sqrt(col("n_docs")).cast(graft.Det.Money))
        val total = stats.agg(sum(col("sw")).as("s_all"))
        val rates = stats.crossJoin(broadcast(total))
          .withColumn(
            "rate_bp",
            floor(lit(10000.0) * least(
              lit(1.0),
              lit(200.0) * (col("sw").cast("double") / col("s_all").cast("double"))
                / col("n_docs").cast("double"))).cast(IntegerType))
          .select(col("source"), col("rate_bp"))
        docsSrc
          .withColumn(
            "bucket",
            TextFns.h60(concat(lit("mix:"), col("doc_id").cast("string"))) % 10000)
          .join(broadcast(rates), "source")
          .filter(col("bucket") < col("rate_bp"))
          .select(col("doc_id"), col("source"), col("bucket"), col("rate_bp"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH stats AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(sqrt(COUNT(*)) AS DECIMAL(38,6)) AS sw
          FROM documents GROUP BY source),
        tot AS (SELECT SUM(sw) AS s_all FROM stats),
        rates AS (
          SELECT source,
                 CAST(floor(10000.0 * least(1.0,
                      200.0 * (CAST(sw AS DOUBLE) / CAST(s_all AS DOUBLE))
                        / CAST(n_docs AS DOUBLE))) AS INT) AS rate_bp
          FROM stats CROSS JOIN tot),
        t AS (SELECT doc_id, source,
                     (${T.h60("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000) AS bucket
              FROM documents)
        SELECT t.doc_id, t.source, t.bucket, r.rate_bp
        FROM t JOIN rates r ON t.source = r.source
        WHERE t.bucket < r.rate_bp
        ORDER BY t.doc_id""")
    ),

    // PII redaction — the rewrite counterpart of q90's pattern SCAN:
    // emails and phone-shaped numbers are replaced with typed
    // placeholders in one codegen'd projection (chained
    // regexp_replace, no UDF). The synthetic corpus carries no PII, so
    // the query deterministically PLANTS a contact line per document
    // first (same construction in the oracle) — the redaction is
    // therefore exercised on every row, and the hash gate pins that
    // Spark's Java-regex and DuckDB's RE2 agree on this pattern
    // subset (character classes, bounded repeats, \d — no lookaround,
    // which RE2 lacks). Patterns anchor on structure (@, dash groups),
    // so false-positive plain words pass through untouched.
    Q(
      "q123_pii_redact",
      (s, d) => {
        val planted = concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit("."))
        val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
        val phoneRe = "\\d{3}-\\d{3,4}(-\\d{4})?"
        val redacted = regexp_replace(
          regexp_replace(planted, emailRe, "[EMAIL]"), phoneRe, "[PHONE]")
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            redacted.as("clean_text"),
            (length(planted) - length(redacted)).as("chars_removed"))
          .filter(col("clean_text").contains("[EMAIL]") && col("clean_text").contains("[PHONE]"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH planted AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@mail.example.com or 555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS ptext
          FROM documents),
        red AS (
          SELECT doc_id, ptext,
                 regexp_replace(
                   regexp_replace(ptext,
                     '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
                   '\d{3}-\d{3,4}(-\d{4})?', '[PHONE]', 'g') AS clean_text
          FROM planted)
        SELECT doc_id, clean_text,
               CAST(length(ptext) - length(clean_text) AS INT) AS chars_removed
        FROM red
        WHERE clean_text LIKE '%[EMAIL]%' AND clean_text LIKE '%[PHONE]%'
        ORDER BY doc_id""")
    ),

    // Intra-document repetition filter (the Gopher-rules quality gate):
    // fraction of 2-gram occurrences that are repeats, plus the share of
    // the single most frequent 2-gram. Two keyed aggs — (doc, gram) then
    // doc — both partition-local after the first shuffle; no self-join.
    Q(
      "q89_repetition",
      (s, d) => {
        val grams = docs(s, d)
          .repartition(col("doc_id"))
          .select(col("doc_id"), explode(TextFns.shingles(col("tok"), 2)).as("gram"))
        val perGram = grams.groupBy(col("doc_id"), col("gram"))
          .agg(count(lit(1)).as("cnt"))
        perGram.groupBy(col("doc_id"))
          .agg(
            sum(col("cnt")).as("n_grams"),
            count(lit(1)).as("n_distinct"),
            max(col("cnt")).as("top_cnt"))
          .select(
            col("doc_id"), col("n_grams"), col("n_distinct"),
            round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6)
              .as("dup_ratio"),
            r6(col("top_cnt"), col("n_grams")).as("top_gram_share"))
          .withColumn("repetitive", (col("dup_ratio") > 0.2).cast(IntegerType))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents),
        e AS (SELECT doc_id, unnest(${T.shingles("tok", 2)}) AS gram FROM t),
        pg AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM e GROUP BY 1, 2),
        m AS (SELECT doc_id,
                     CAST(SUM(cnt) AS BIGINT) AS n_grams,
                     CAST(COUNT(*) AS BIGINT) AS n_distinct,
                     CAST(MAX(cnt) AS BIGINT) AS top_cnt
              FROM pg GROUP BY doc_id)
        SELECT doc_id, n_grams, n_distinct,
               ROUND(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS dup_ratio,
               ROUND(CAST(top_cnt AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS top_gram_share,
               CAST(ROUND(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) > 0.2
                    AS INT) AS repetitive
        FROM m ORDER BY doc_id""")
    ),

    // Pattern scan (PII-shaped cleaning pass): per-doc counts of
    // email-, URL-, number- and capitalized-word-shaped spans. Patterns
    // stay in the RE2-compatible subset with explicit [0-9]/[A-Za-z]
    // classes so Java and RE2 count identically; the whole query is one
    // codegen projection, no shuffle at all.
    Q(
      "q90_pattern_scan",
      (s, d) => {
        def cnt(pat: String): Column =
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            cnt("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+").as("n_emails"),
            cnt("https?://[^ ]+").as("n_urls"),
            cnt("[0-9]+").as("n_numbers"),
            cnt("[A-Z][a-z]+").as("n_caps"))
          .withColumn(
            "clean",
            ((col("n_emails") === 0) && (col("n_urls") === 0)).cast(IntegerType))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INT) AS n_urls,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers,
               CAST(len(regexp_extract_all(text, '[A-Z][a-z]+')) AS INT) AS n_caps,
               CAST(len(regexp_extract_all(text,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) = 0
                    AND len(regexp_extract_all(text, 'https?://[^ ]+')) = 0
                    AS INT) AS clean
        FROM documents ORDER BY doc_id""")
    ),

    // Train<->eval decontamination: which training docs share verbatim
    // 8-grams with the held-out split (q78's md5 buckets define the
    // split, so the check composes with the split it protects). The
    // eval side is a deduplicated shingle set orders of magnitude
    // smaller than the corpus — broadcast it; the training side streams
    // through one explode + one semi-shaped equi-join + one agg, never
    // shuffling on anything wider than (doc_id).
    Q(
      "q91_decontamination",
      (s, d) => {
        val n = 8
        val bucketed = docs(s, d)
          .repartition(col("doc_id"))
          .withColumn(
            "bucket", TextFns.h60(col("doc_id").cast("string")) % 100)
        val trainSh = bucketed.filter(col("bucket") < 90)
          .select(col("doc_id"), explode(TextFns.shingles(col("tok"), n)).as("sh"))
          .distinct()
        val evalSh = bucketed.filter(col("bucket") >= 90)
          .select(col("doc_id").as("eval_doc"), explode(TextFns.shingles(col("tok"), n)).as("sh"))
          .distinct()
        val totals = trainSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
        trainSh
          .join(broadcast(evalSh), "sh")
          .groupBy(col("doc_id"))
          .agg(
            countDistinct(col("sh")).as("n_overlap"),
            countDistinct(col("eval_doc")).as("n_eval_docs"))
          .join(totals, "doc_id")
          .select(
            col("doc_id"), col("n_overlap"), col("n_shingles"), col("n_eval_docs"),
            r6(col("n_overlap"), col("n_shingles")).as("contamination"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok,
                          (${T.h60("CAST(doc_id AS VARCHAR)")} % 100) AS bucket
                   FROM documents),
        train AS (SELECT DISTINCT doc_id, unnest(${T.shingles("tok", 8)}) AS sh
                  FROM t WHERE bucket < 90),
        ev AS (SELECT DISTINCT doc_id AS eval_doc, unnest(${T.shingles("tok", 8)}) AS sh
               FROM t WHERE bucket >= 90),
        totals AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
                   FROM train GROUP BY doc_id),
        hit AS (SELECT tr.doc_id,
                       CAST(COUNT(DISTINCT tr.sh) AS BIGINT) AS n_overlap,
                       CAST(COUNT(DISTINCT ev.eval_doc) AS BIGINT) AS n_eval_docs
                FROM train tr JOIN ev ON tr.sh = ev.sh
                GROUP BY tr.doc_id)
        SELECT h.doc_id, h.n_overlap, t.n_shingles, h.n_eval_docs,
               ROUND(CAST(h.n_overlap AS DOUBLE) / CAST(t.n_shingles AS DOUBLE), 6)
                 AS contamination
        FROM hit h JOIN totals t ON h.doc_id = t.doc_id
        ORDER BY h.doc_id""")
    ),

    // Context-window chunking: split each document's token stream into
    // fixed-size training chunks (64 tokens, stride 48 → 16-token
    // overlap). Pure per-row explode of a computed offset sequence — no
    // shuffle at all until the output sort, so it scales as a map-only
    // pass over the corpus.
    Q(
      "q93_context_chunks",
      (s, d) => {
        val size_ = 64
        val stride = 48
        docs(s, d)
          .select(
            col("doc_id"), col("tok"),
            posexplode(sequence(lit(0), size(col("tok")) - 1, lit(stride))))
          .select(
            col("doc_id"),
            col("pos").cast(IntegerType).as("chunk_id"),
            col("col").cast(IntegerType).as("start_tok"),
            size(slice(col("tok"), col("col") + 1, lit(size_))).as("n_tok"),
            array_join(slice(col("tok"), col("col") + 1, lit(size_)), " ").as("chunk_text"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents),
        c AS (SELECT doc_id, tok,
                     unnest(generate_series(0, len(tok) - 1, 48)) AS st
              FROM t)
        SELECT doc_id,
               CAST(st / 48 AS INT) AS chunk_id,
               CAST(st AS INT) AS start_tok,
               CAST(len(list_slice(tok, st + 1, st + 64)) AS INT) AS n_tok,
               array_to_string(list_slice(tok, st + 1, st + 64), ' ') AS chunk_text
        FROM c
        ORDER BY doc_id, chunk_id""")
    ),

    // Tokenizer-style vocabulary build: corpus term + document
    // frequencies, top-256 by frequency with deterministic tie-break,
    // dense ids. One shuffle to the token agg; the id-assigning window
    // runs AFTER the limit, so it only ever sees the bounded vocab
    // (same waiver as q07/q31 bounded-domain windows).
    Q(
      "q94_vocab_build",
      (s, d) => {
        val top = docs(s, d)
          .select(col("doc_id"), explode(col("tok")).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
          .orderBy(col("tf").desc, col("token"))
          .limit(256)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("tf").desc, col("token"))
        top
          .select(
            row_number().over(w).cast(IntegerType).as("vocab_id"),
            col("token"), col("tf"), col("df"))
          .orderBy(col("vocab_id"))
      },
      Some(s"""
        WITH tok AS (SELECT doc_id, unnest(${T.tokens}) AS token FROM documents),
        agg AS (SELECT token,
                       CAST(COUNT(*) AS BIGINT) AS tf,
                       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
                FROM tok GROUP BY token),
        top AS (SELECT * FROM agg ORDER BY tf DESC, token LIMIT 256)
        SELECT CAST(row_number() OVER (ORDER BY tf DESC, token) AS INT) AS vocab_id,
               token, tf, df
        FROM top
        ORDER BY vocab_id""")
    ),

    // Deterministic per-stratum reservoir: the 5 docs with the smallest
    // seeded hash per language — a fixed-size uniform sample whose
    // membership is stable across runs and cluster sizes. Uses the
    // native graft_top_k aggregate, so each partition contributes at
    // most 5 candidates per language to the shuffle (vs the row_number
    // window sorting every doc).
    Q(
      "q98_reservoir_sample",
      (s, d) => {
        graft.functions.TopKAgg.register(s)
        Tables.documents(s, d)
          .select(
            col("lang"), col("doc_id"),
            TextFns.h60(concat(lit("rsv:"), col("doc_id").cast("string"))).as("h"))
          .groupBy(col("lang"))
          .agg(expr("graft_top_k(struct(h, doc_id), 5)").as("top"))
          .select(col("lang"), posexplode(col("top")))
          .select(
            col("lang"),
            (col("pos") + 1).cast(IntegerType).as("rk"),
            col("col.doc_id").as("doc_id"),
            col("col.h").as("h"))
          .orderBy(col("lang"), col("rk"))
      },
      Some(s"""
        WITH t AS (SELECT lang, doc_id,
                          ${T.h60("'rsv:' || CAST(doc_id AS VARCHAR)")} AS h
                   FROM documents),
        r AS (SELECT *, row_number() OVER (PARTITION BY lang
                                           ORDER BY h, doc_id) AS rn
              FROM t)
        SELECT lang, CAST(rn AS INT) AS rk, doc_id, h
        FROM r WHERE rn <= 5
        ORDER BY lang, rk""")
    ),

    // Percentile-thresholded quality pruning (the CCNet move): keep
    // each language's top quartile by lexical-diversity score, with
    // the cutoff LEARNED from the corpus, not hardcoded. Scores are
    // exact integer ppm (floor-div — no float drift); the per-language
    // p75 is one exact-percentile aggregate over the integer scores
    // (the q108 parity recipe) whose tiny result broadcasts back, so
    // the keep decision is a windowless projection over one corpus
    // scan — q117's shape. Exposes per-language threshold + kept/total
    // accounting, the numbers a corpus curator actually reviews.
    Q(
      "q135_quality_prune",
      (s, d) => {
        val scored = docs(s, d)
          .select(
            col("doc_id"), col("lang"),
            expr("(CAST(size(array_distinct(tok)) AS BIGINT) * 1000000) div CAST(size(tok) AS BIGINT)")
              .as("score_ppm"))
          .cache() // threshold agg + keep filter both consume it
        val thr = scored
          .groupBy(col("lang"))
          .agg(expr("percentile(score_ppm, 0.75D)").as("thr"))
        val kept = scored
          .join(broadcast(thr), Seq("lang"))
          .filter(col("score_ppm") >= col("thr"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_kept"),
            min(col("score_ppm")).as("min_kept_ppm"))
        scored
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_total"))
          .join(thr, Seq("lang"))
          .join(kept, Seq("lang"))
          .select(
            col("lang"), round(col("thr"), 6).as("thr"),
            col("n_total"), col("n_kept"), col("min_kept_ppm"))
          .orderBy(col("lang"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, lang, ${T.tokens} AS tok FROM documents),
        m AS (SELECT doc_id, lang,
                     (CAST(len(list_distinct(tok)) AS BIGINT) * 1000000)
                       // CAST(len(tok) AS BIGINT) AS score_ppm
              FROM t),
        thr AS (SELECT lang, quantile_cont(score_ppm, 0.75) AS thr FROM m GROUP BY lang),
        kept AS (SELECT m.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
                        CAST(MIN(m.score_ppm) AS BIGINT) AS min_kept_ppm
                 FROM m JOIN thr ON m.lang = thr.lang
                 WHERE m.score_ppm >= thr.thr
                 GROUP BY m.lang),
        tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total FROM m GROUP BY lang)
        SELECT tot.lang, ROUND(thr.thr, 6) AS thr, tot.n_total, kept.n_kept, kept.min_kept_ppm
        FROM tot JOIN thr ON tot.lang = thr.lang
        JOIN kept ON tot.lang = kept.lang
        ORDER BY tot.lang""")
    ),

    // Corpus-LM quality score (the CCNet/perplexity-filter shape,
    // self-trained): a bigram model is fit on the corpus ITSELF —
    // c2(w1 w2) bigram counts, c1(w1) = total bigrams with prefix w1 —
    // and each document is scored by the mean LAPLACE-SMOOTHED
    // conditional probability of its own bigrams, integer-scaled:
    // (c2+1)*1e6 div (c1+V) with V the prefix-vocabulary size. The
    // smoothing is load-bearing, not cosmetic: unsmoothed self-trained
    // conditionals hand globally-unique gibberish a PERFECT score
    // (c2=1/c1=1), exactly inverting the filter; the +V denominator
    // makes one-off contexts score ~1e6/V while common phrasing keeps
    // c2/c1 mass. Integer ratios instead of log-probability because
    // ln() differs between engines in final ulps while integer
    // arithmetic is bitwise portable, and the RANKING the filter
    // consumes is preserved (declared semantics).
    // Scale: the bigram explode is the shingle cost class
    // (repartitioned off the small-file scan); the model is two hash
    // aggregates plus a one-row vocab frame cross-joined in (the q13
    // share-of-total pattern — no driver-side vocab, no collect);
    // scoring is ONE join of doc-bigram occurrences against the
    // (deduplicated, far smaller) stats table — no per-doc state.
    // Shuffle width: raw bigram STRINGS never cross an exchange — the
    // explode immediately reduces each bigram to its fixed-width md5
    // h60 (and the prefix word to h1), so every shuffle and the scoring
    // join carry 8-byte keys however long the phrases are (the q141
    // fingerprint recipe; 60-bit keys make corpus-scale collisions
    // negligible and the oracle mirrors the hashing exactly). The
    // sf0.1 corpus is too small for the width cut to register in total
    // stage-shuffle bytes (the doc-text repartition dominates, ~2.3 MB
    // either way); the property that matters at 100 TB — no
    // string-keyed exchange anywhere in the plan — is pinned in
    // PlanSpec instead of a micro-benchmark.
    Q(
      "q143_bigram_quality",
      (s, d) => {
        // big feeds BOTH the model build and the scoring join; c2
        // feeds c1, the vocab scalar, and stats — cache both or the
        // dominant explode/aggregate re-executes per plan branch
        // (the CLAUDE.md self-join-shaped-reuse rule)
        val big = docs(s, d)
          .repartition(col("doc_id"))
          .select(
            col("doc_id"),
            explode(TextFns.shingles(col("tok"), 2)).as("bg"))
          .select(
            col("doc_id"),
            TextFns.h60(col("bg")).as("bh"),
            TextFns.h60(element_at(split(col("bg"), " "), 1)).as("h1"))
          .cache()
        val c2 = big.groupBy(col("bh"))
          .agg(count(lit(1)).as("c2"), min(col("h1")).as("h1"))
          .cache()
        val c1 = c2.groupBy(col("h1")).agg(sum(col("c2")).as("c1"))
        val vocab = c1.agg(count(lit(1)).as("v"))
        val stats = c2.join(c1, Seq("h1")).crossJoin(broadcast(vocab))
          .select(col("bh"), expr("(c2 + 1) * 1000000 div (c1 + v)").as("p_scaled"))
        big
          .join(stats, Seq("bh"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("p_scaled")).as("sp"))
          .select(
            col("doc_id"), col("n_bigrams"),
            expr("sp div n_bigrams").as("quality_scaled"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents),
        bgs AS (
          SELECT doc_id, unnest(${T.shingles("tok", 2)}) AS bg FROM t),
        big AS (
          SELECT doc_id, ${T.h60("bg")} AS bh,
                 ${T.h60("string_split(bg, ' ')[1]")} AS h1
          FROM bgs),
        c2 AS (
          SELECT bh, CAST(COUNT(*) AS BIGINT) AS c2, MIN(h1) AS h1
          FROM big GROUP BY bh),
        c1 AS (SELECT h1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY h1),
        stats AS (
          SELECT c2.bh,
                 ((c2.c2 + 1) * 1000000) // (c1.c1 + (SELECT COUNT(*) FROM c1)) AS p_scaled
          FROM c2 JOIN c1 ON c2.h1 = c1.h1)
        SELECT big.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(CAST(SUM(stats.p_scaled) AS BIGINT) // COUNT(*) AS BIGINT) AS quality_scaled
        FROM big JOIN stats ON big.bh = stats.bh
        GROUP BY big.doc_id ORDER BY big.doc_id""")
    ),

    // Okapi BM25 retrieval (k1=1.2, b=0.75) with the portable rational
    // IDF (the q87/q146 discipline: no engine ln() — its last-ulp
    // drift would break the hash gate). Per TERM the ranking is
    // EXACTLY true BM25: idf is a per-term constant and the tf part is
    // computed as the exact integer rational
    //   22·tf·SL div (10·SL·tf + 3·SL + 9·L·N)
    // (= tf·(k1+1)/(tf + k1·(1−b+b·L/avgdl)) with avgdl = SL/N cleared
    // of fractions; all operands positive, so Spark `div` ≡ DuckDB
    // `//`), a strictly monotone transform of the per-term score.
    // idf_scaled = ((2N−2df+1)·1e6) div (2df+1) is the rational core
    // of log-idf's argument — monotone in the true idf, declared as
    // the portable variant for cross-term magnitudes. Query terms are
    // data-derived: df-ranks 10..17 (mid-frequency — the head is
    // stopwords, the tail degenerate). Scale shape: tf is one (doc,
    // token) hash aggregate; df re-aggregates tf (no second corpus
    // scan); the 8-term query set and the (N, SL) scalar broadcast in,
    // so scoring touches only the 8 posting lists and the top-5 window
    // partitions by term — never a corpus-wide sort.
    Q(
      "q153_bm25",
      (s, d) => {
        val tok = docs(s, d)
          .select(col("doc_id"), size(col("tok")).as("len"), explode(col("tok")).as("token"))
        val tf = tok.groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"), max(col("len").cast("long")).as("len"))
          .cache()
        val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
        val qt = df
          .withColumn("qrn",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("df").desc, col("token"))))
          .filter(col("qrn").between(10, 17))
          .select(col("token"), col("df"))
        // corpus scalars re-aggregate the cached tf, so the corpus is
        // scanned ONCE for the whole query. This DEFINES the retrieval
        // corpus as "documents owning ≥1 token" — the oracle computes
        // the scalars from tf the same way (q155 likewise), so an
        // empty-tokenizing document cannot silently diverge the
        // scalars; the this-corpus-has-none invariant is additionally
        // pinned in CorpusOpsSpec
        val n = tf.groupBy(col("doc_id")).agg(max(col("len")).as("len"))
          .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sl"))
        val scored = tf.join(broadcast(qt), "token")
          .crossJoin(broadcast(n))
          .withColumn("idf_scaled",
            expr("((2 * n_docs - 2 * df + 1) * 1000000) div (2 * df + 1)"))
          .withColumn("num",
            col("idf_scaled").cast(org.apache.spark.sql.types.DecimalType(38, 0))
              * 22 * col("tf") * col("sl"))
          .withColumn("den",
            lit(10L) * col("sl") * col("tf") + lit(3L) * col("sl")
              + lit(9L) * col("len") * col("n_docs"))
          .withColumn("score_scaled", expr("num div den").cast("long"))
        scored
          .withColumn("rnk",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("token"))
              .orderBy(col("score_scaled").desc, col("doc_id")))
              .cast(org.apache.spark.sql.types.IntegerType))
          .filter(col("rnk") <= 5)
          .select(col("token"), col("rnk"), col("doc_id"), col("tf"),
            col("len").as("doc_len"), col("score_scaled"))
          .orderBy(col("token"), col("rnk"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok FROM documents),
        e AS (SELECT doc_id, len(tok) AS len, unnest(tok) AS token FROM t),
        tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf,
                      CAST(MAX(len) AS BIGINT) AS len
               FROM e GROUP BY 1, 2),
        df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        qt AS (SELECT token, df FROM (
                 SELECT token, df,
                        row_number() OVER (ORDER BY df DESC, token) AS qrn
                 FROM df)
               WHERE qrn BETWEEN 10 AND 17),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(len) AS BIGINT) AS sl
              FROM (SELECT doc_id, MAX(len) AS len FROM tf GROUP BY 1)),
        scored AS (
          SELECT tf.token, tf.doc_id, tf.tf, tf.len,
                 CAST((CAST(((2 * n.n_docs - 2 * qt.df + 1) * 1000000)
                         // (2 * qt.df + 1) AS HUGEINT)
                       * 22 * tf.tf * n.sl)
                      // (10 * n.sl * tf.tf + 3 * n.sl + 9 * tf.len * n.n_docs)
                      AS BIGINT) AS score_scaled
          FROM tf JOIN qt ON tf.token = qt.token CROSS JOIN n)
        SELECT token, rnk, doc_id, tf, len AS doc_len, score_scaled FROM (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY token ORDER BY score_scaled DESC, doc_id) AS INT) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY token, rnk""")
    ),

    // Incremental retrieval against a PERSISTED inverted index — the
    // delivery-time member of the q119/q130/q144 family for the BM25
    // surface: the standing corpus (the q78 md5 split's 90% bucket)
    // publishes its term statistics as a snapshot-versioned table with
    // the corpus scalars (N, Σlen) in the commit's manifest metadata;
    // each NEW delivery (the 10% bucket) is then scored against the
    // PINNED index — standing queries evaluated at ingest with
    // index-frozen idf/avgdl, no corpus rescan, no index rebuild. At
    // warehouse scale the index table is vocabulary-sized (Zipf-
    // bounded) and only the batch tokenizes per delivery; here the
    // commit+read-back runs in-query (the q154 shape) to exercise the
    // real snapshot lifecycle. Scoring formula and query-term
    // derivation are q153's (per-term-exact, portable rational idf) —
    // with the df ranks and scalars frozen to the INDEX corpus, the
    // semantics a standing alert actually wants.
    Q(
      "q155_incremental_bm25",
      (s, d) => {
        val dir = graft.Scratch.fresh("bm_")
        val split = docs(s, d)
          .select(col("doc_id"), col("tok"),
            (TextFns.h60(col("doc_id").cast("string")) % 100).as("bucket"))
        val itok = split.filter(col("bucket") < 90)
          .select(col("doc_id"), size(col("tok")).as("len"), explode(col("tok")).as("token"))
        val itf = itok.groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"), max(col("len").cast("long")).as("len"))
          .cache()
        val idxDf = itf.groupBy(col("token")).agg(count(lit(1)).as("df"))
        // corpus scalars: ONE driver row (the topKeyShare cost class),
        // recorded as commit metadata so a pinned index version always
        // carries the exact scalars its statistics were built with
        val scal = itf.groupBy(col("doc_id")).agg(max(col("len")).as("len"))
          .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sl"))
          .collect()(0)
        val v = Snapshots.commit(idxDf, dir, replace = true,
          meta = Map("n_docs" -> scal.getLong(0).toString, "sl" -> scal.getLong(1).toString))
        // ---- serving side: everything below reads the PINNED index
        val stats = Snapshots.read(s, dir, Some(v))
        val m = Snapshots.meta(s, dir, v)
        val nDocs = m("n_docs").toLong
        val sl = m("sl").toLong
        val qt = stats
          .withColumn("qrn",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("df").desc, col("token"))))
          .filter(col("qrn").between(10, 17))
          .select(col("token"), col("df"))
        val btf = split.filter(col("bucket") >= 90)
          .select(col("doc_id"), size(col("tok")).as("len"), explode(col("tok")).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"), max(col("len").cast("long")).as("len"))
        btf.join(broadcast(qt), "token")
          .withColumn("idf_scaled",
            expr(s"((2 * ${nDocs}L - 2 * df + 1) * 1000000) div (2 * df + 1)"))
          .withColumn("num",
            col("idf_scaled").cast(org.apache.spark.sql.types.DecimalType(38, 0))
              * 22 * col("tf") * lit(sl))
          .withColumn("den",
            lit(10L) * lit(sl) * col("tf") + lit(3L) * lit(sl)
              + lit(9L) * col("len") * lit(nDocs))
          .withColumn("score_scaled", expr("num div den").cast("long"))
          .withColumn("rnk",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("token"))
              .orderBy(col("score_scaled").desc, col("doc_id")))
              .cast(org.apache.spark.sql.types.IntegerType))
          .filter(col("rnk") <= 3)
          .select(col("token"), col("rnk"), col("doc_id"), col("tf"),
            col("len").as("doc_len"), col("score_scaled"))
          .orderBy(col("token"), col("rnk"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, ${T.tokens} AS tok,
                          (${T.h60("CAST(doc_id AS VARCHAR)")} % 100) AS bucket
                   FROM documents),
        ie AS (SELECT doc_id, len(tok) AS len, unnest(tok) AS token
               FROM t WHERE bucket < 90),
        itf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf,
                       CAST(MAX(len) AS BIGINT) AS len
                FROM ie GROUP BY 1, 2),
        idf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM itf GROUP BY 1),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len) AS BIGINT) AS sl
              FROM (SELECT doc_id, MAX(len) AS len FROM itf GROUP BY 1)),
        qt AS (SELECT token, df FROM (
                 SELECT token, df,
                        row_number() OVER (ORDER BY df DESC, token) AS qrn
                 FROM idf)
               WHERE qrn BETWEEN 10 AND 17),
        be AS (SELECT doc_id, len(tok) AS len, unnest(tok) AS token
               FROM t WHERE bucket >= 90),
        btf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf,
                       CAST(MAX(len) AS BIGINT) AS len
                FROM be GROUP BY 1, 2),
        scored AS (
          SELECT btf.token, btf.doc_id, btf.tf, btf.len,
                 CAST((CAST(((2 * n.n_docs - 2 * qt.df + 1) * 1000000)
                         // (2 * qt.df + 1) AS HUGEINT)
                       * 22 * btf.tf * n.sl)
                      // (10 * n.sl * btf.tf + 3 * n.sl + 9 * btf.len * n.n_docs)
                      AS BIGINT) AS score_scaled
          FROM btf JOIN qt ON btf.token = qt.token CROSS JOIN n)
        SELECT token, rnk, doc_id, tf, len AS doc_len, score_scaled FROM (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY token ORDER BY score_scaled DESC, doc_id) AS INT) AS rnk
          FROM scored)
        WHERE rnk <= 3
        ORDER BY token, rnk""")
    ),

    // Corpus report card: the one-row health summary a corpus owner
    // runs before every training cut — doc/lang counts, exact-dup
    // incidence (md5 identity census), PII-shaped incidence (q90's
    // email/URL patterns), token volume, and language concentration
    // as an integer-rational Gini (1e6 − Σ share², the ln()-free
    // diversity statistic; entropy is not engine-portable, Gini is).
    // ONE cached corpus scan feeds the per-lang rollup and the global
    // aggregate; the only other shuffle is the exact distinct on the
    // 16-byte md5 (at 100 TB the q71/q146 sketches are the declared
    // swap-out for that term). All arithmetic decimal-exact / integer
    // div so the row hash-matches.
    Q(
      "q160_corpus_report",
      (s, d) => {
        def cnt(pat: String): Column =
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        val base = Tables.documents(s, d)
          .select(
            col("doc_id"), col("lang"),
            size(TextFns.tokens(col("text"))).cast("long").as("ntok"),
            md5(col("text")).as("h"),
            ((cnt("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+") > 0) ||
              (cnt("https?://[^ ]+") > 0)).cast("long").as("pii"))
          .cache()
        val tot = base.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_h"),
          sum(col("ntok")).as("total_tokens"),
          sum(col("pii")).as("pii_docs"),
          countDistinct(col("lang")).as("n_langs"))
        val langCnt = base.groupBy(col("lang")).agg(count(lit(1)).as("c"))
        val conc = langCnt.crossJoin(broadcast(tot.select(col("n_docs").as("n"))))
          .select(expr(
            "CAST((CAST(c AS DECIMAL(38,0)) * c * 1000000) div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
            .as("t"))
          .agg(sum(col("t")).as("conc"))
        tot.crossJoin(broadcast(conc))
          .select(
            col("n_docs"), col("n_langs"), col("total_tokens"),
            // DECIMAL(38,0) widening: raw 64-bit total_tokens*1e6 would
            // silently wrap in Spark (ANSI off) past ~9.2e12 tokens while
            // DuckDB's BIGINT errors — same treatment as the conc term.
            expr("CAST((CAST(total_tokens AS DECIMAL(38,0)) * 1000000) div n_docs AS BIGINT)")
              .as("mean_tokens_micro"),
            (col("n_docs") - col("n_h")).as("exact_dup_docs"),
            col("pii_docs"),
            (lit(1000000L) - col("conc")).as("lang_gini_micro"))
      },
      Some(s"""
        WITH b AS MATERIALIZED (
          SELECT doc_id, lang,
                 CAST(len(${T.tokens}) AS BIGINT) AS ntok,
                 md5(text) AS h,
                 CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) > 0
                   OR len(regexp_extract_all(text, 'https?://[^ ]+')) > 0
                   AS BIGINT) AS pii
          FROM documents),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(COUNT(DISTINCT h) AS BIGINT) AS n_h,
                     CAST(SUM(ntok) AS BIGINT) AS total_tokens,
                     CAST(SUM(pii) AS BIGINT) AS pii_docs,
                     CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
              FROM b),
        lc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1),
        g AS (SELECT CAST(SUM(
                 (CAST(c AS HUGEINT) * c * 1000000) // (CAST(t.n_docs AS HUGEINT) * t.n_docs))
                 AS BIGINT) AS conc
              FROM lc, t)
        SELECT t.n_docs, t.n_langs, t.total_tokens,
               CAST((CAST(t.total_tokens AS HUGEINT) * 1000000) // t.n_docs AS BIGINT) AS mean_tokens_micro,
               CAST(t.n_docs - t.n_h AS BIGINT) AS exact_dup_docs,
               t.pii_docs,
               CAST(1000000 - g.conc AS BIGINT) AS lang_gini_micro
        FROM t, g""")
    ),

    // BPE-style merge-pair training (tokenizer induction): see
    // [[bpeTrain]]
    Q("q170_bpe_train", (s, d) => bpeTrain(s, d), Some(bpeTrainSql)),

    // Delivery-time language-mix DRIFT — the incremental delivery
    // family (q119/q155/q159/…) applied to corpus MONITORING: before
    // a delivery is accepted into a training corpus, the owner asks
    // whether its language mix matches the standing corpus's. The
    // standing corpus (q78's 90% md5 bucket of doc_id) publishes its
    // per-lang histogram as a snapshot table (language-count-sized —
    // tiny at any corpus scale); the delivery (the 10% bucket) scans
    // only itself, and each language's drift is the exact integer
    // share gap |cb·Nd − cd·Nb| · 1e6 div (Nb·Nd) — cross products
    // widened through DECIMAL(38,0)/HUGEINT (the q166 overflow class),
    // so the drift report is engine-exact. Full-outer on lang:
    // n_base = 0 marks a language BORN in this delivery (the q159
    // movers-visible convention), n_delta = 0 one that vanished.
    Q(
      "q175_mix_drift",
      (s, d) => {
        val (dir, v) = mixIndex(s, d)
        // ---- serving side: everything below reads the PINNED index
        val base = Snapshots.read(s, dir, Some(v))
        val delta = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            (TextFns.h60(col("doc_id").cast("string")) % 100).as("bucket"))
          .filter(col("bucket") >= 90)
          .groupBy(col("lang")).agg(count(lit(1)).as("n_delta"))
        val joined = base.join(delta, Seq("lang"), "full_outer")
          .select(col("lang"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_delta"), lit(0L)).as("n_delta"))
          .cache() // consumed by the scalar arm and the final select
        val scal = joined.agg(sum(col("n_base")).as("nb"), sum(col("n_delta")).as("nd"))
        joined.crossJoin(broadcast(scal))
          .select(
            col("lang"), col("n_base"), col("n_delta"),
            expr("CAST((CAST(n_base AS DECIMAL(38,0)) * 1000000) div nb AS BIGINT)")
              .as("share_base_micro"),
            expr("CAST((CAST(n_delta AS DECIMAL(38,0)) * 1000000) div nd AS BIGINT)")
              .as("share_delta_micro"),
            expr("""CAST((abs(CAST(n_base AS DECIMAL(38,0)) * nd
                             - CAST(n_delta AS DECIMAL(38,0)) * nb) * 1000000)
                    div (CAST(nb AS DECIMAL(38,0)) * nd) AS BIGINT)""")
              .as("drift_micro"))
          .orderBy(col("lang"))
      },
      Some {
        val h = T.h60("CAST(doc_id AS VARCHAR)")
        s"""
        WITH s AS MATERIALIZED (
          SELECT doc_id, lang, ($h % 100) AS bucket FROM documents),
        b AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_base
              FROM s WHERE bucket < 90 GROUP BY 1),
        dl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_delta
               FROM s WHERE bucket >= 90 GROUP BY 1),
        j AS MATERIALIZED (
          SELECT COALESCE(b.lang, dl.lang) AS lang,
                 COALESCE(b.n_base, 0) AS n_base,
                 COALESCE(dl.n_delta, 0) AS n_delta
          FROM b FULL OUTER JOIN dl ON b.lang = dl.lang),
        t AS (SELECT CAST(SUM(n_base) AS BIGINT) AS nb,
                     CAST(SUM(n_delta) AS BIGINT) AS nd FROM j)
        SELECT j.lang, j.n_base, j.n_delta,
               CAST((CAST(j.n_base AS HUGEINT) * 1000000) // t.nb AS BIGINT) AS share_base_micro,
               CAST((CAST(j.n_delta AS HUGEINT) * 1000000) // t.nd AS BIGINT) AS share_delta_micro,
               CAST((abs(CAST(j.n_base AS HUGEINT) * t.nd
                         - CAST(j.n_delta AS HUGEINT) * t.nb) * 1000000)
                    // (CAST(t.nb AS HUGEINT) * t.nd) AS BIGINT) AS drift_micro
        FROM j, t ORDER BY j.lang"""
      }
    ),

    // Quality-WEIGHTED corpus sampling — the mixing step after quality
    // scoring (q41) in a training-data pipeline: upsample good
    // documents, downsample low ones, DETERMINISTICALLY. Each doc's
    // acceptance is a salted md5 toss (the q168 DOULION recipe —
    // "|ws" decorrelates from the q78 split hash): keep iff
    // h60(doc_id ∥ "|ws") % 100 < w, with w = 80 for q41-good docs
    // and 20 for low — a per-row Bernoulli whose outcome is a pure
    // function of the doc id, so reruns, engines, and partitionings
    // all select the SAME sample (the reproducibility a training cut
    // requires). Map-side filter + projection, zero shuffles before
    // the output sort; at 100 TB this is a pushdown-friendly scan.
    Q(
      "q178_weighted_sample",
      (s, d) => {
        val scored = docs(s, d)
          .select(
            col("doc_id"), col("lang"),
            size(col("tok")).as("n_tokens"),
            size(filter(col("tok"), t => t.isin(StopWords: _*))).as("n_stop"),
            size(array_distinct(col("tok"))).as("n_distinct"))
          .withColumn("quality",
            when(
              col("n_tokens").between(10, 120)
                && r6(col("n_stop"), col("n_tokens")) <= 0.3
                && r6(col("n_distinct"), col("n_tokens")) >= 0.4,
              "good").otherwise("low"))
          .withColumn("w",
            when(col("quality") === "good", lit(80)).otherwise(lit(20))
              .cast(IntegerType))
        scored
          .filter(
            TextFns.h60(concat(col("doc_id").cast("string"), lit("|ws"))) % 100 < col("w"))
          .select(col("doc_id"), col("lang"), col("quality"), col("w"))
          .orderBy(col("doc_id"))
      },
      Some {
        val toss = T.h60("CAST(doc_id AS VARCHAR) || '|ws'")
        s"""
        WITH t AS (SELECT doc_id, lang, ${T.tokens} AS tok FROM documents),
        m AS (SELECT doc_id, lang,
                     CAST(len(tok) AS INT) AS n_tokens,
                     CAST(len(list_filter(tok, x -> x IN ($stopList))) AS INT) AS n_stop,
                     CAST(len(list_distinct(tok)) AS INT) AS n_distinct
              FROM t),
        q AS (SELECT doc_id, lang,
                     CASE WHEN n_tokens BETWEEN 10 AND 120
                               AND ROUND(CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE), 6) <= 0.3
                               AND ROUND(CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE), 6) >= 0.4
                          THEN 'good' ELSE 'low' END AS quality
              FROM m)
        SELECT doc_id, lang, quality,
               CAST(CASE WHEN quality = 'good' THEN 80 ELSE 20 END AS INT) AS w
        FROM q
        WHERE ($toss % 100) < CASE WHEN quality = 'good' THEN 80 ELSE 20 END
        ORDER BY doc_id"""
      }
    ),

    // Delivery-time TOKENIZER APPLICATION — the deployment verb after
    // q170's tokenizer induction: the [[BpeRounds]] merge rules are
    // trained ONCE on the 90% standing bucket and committed as the
    // pinned tokenizer index ([[bpeRulesIndex]], in Prebuild); each
    // delivery (the 10% bucket) replays the FROZEN rules in rank order
    // — never re-derives pairs from its own statistics (the contract
    // of a production tokenizer: the vocabulary is fixed at train
    // time). Per round the greedy left-to-right application is the
    // same gaps-and-islands window as training ([[bpeApplyRound]] is
    // the literal shared code). Output per delivery doc: token count
    // before and after the 5 merges — the compression the standing
    // tokenizer achieves on new data. Scale: serving cost is 5
    // delta-linear passes (doc-keyed windows, broadcast 1-row rule),
    // independent of the standing corpus size.
    Q(
      "q179_bpe_apply",
      (s, d) => {
        val (dir, v) = bpeRulesIndex(s, d)
        // the frozen rule list is BpeRounds rows (constant-size) —
        // collect once, replay by rank; see [[bpeApplyRound]]'s note
        // on the former per-round 1-row-frame costs
        val rules = Snapshots.read(s, dir, Some(v))
          .select(col("merge_rank"), col("pair"))
          .collect()
          .map(r => r.getInt(0) -> r.getString(1))
          .toMap
        val delivery0 = docs(s, d)
          .select(col("doc_id"), col("tok"),
            (TextFns.h60(col("doc_id").cast("string")) % 100).as("bucket"))
          .filter(col("bucket") >= 90)
          .select(col("doc_id"), col("tok"))
        // data-derived shuffle sizing for the replay loop — see
        // [[bpeTrainOf]]; final join materialized inside the window
        graft.Parts.sized(delivery0) {
          val delivery = delivery0.localCheckpoint(true)
          val before = delivery.select(col("doc_id"), size(col("tok")).as("n_before"))
          var cur = delivery
          for (i <- 1 to BpeRounds; pair <- rules.get(i))
            cur = bpeApplyRound(cur, pair)._2
          before
            .join(cur.select(col("doc_id"), size(col("tok")).as("n_after")),
              Seq("doc_id"), "left")
            .select(col("doc_id"), col("n_before"),
              coalesce(col("n_after"), col("n_before")).as("n_after"))
            .localCheckpoint(true)
        }.orderBy(col("doc_id"))
      },
      Some(bpeApplySql)),

    // Delivery-time language-mix REBALANCE — the corrective verb after
    // q175's drift detection: given the standing corpus's pinned
    // per-lang histogram (the q175 mixIndex snapshot) and a delivery,
    // compute each language's ACCEPT RATE — the downsampling
    // probability that makes the kept delivery's expected mix equal the
    // standing mix: p_L = min(1, share_base(L) / share_delta(L)), held
    // as the exact integer micro-rational (n_base·Nd·1e6) div
    // (n_delta·Nb) widened through DECIMAL(38,0)/HUGEINT (the q166
    // overflow class). The kept set itself is the q178 deterministic
    // toss — keep iff h60(doc_id ∥ "|rb") % 1e6 < accept_micro — so
    // reruns, engines, and partitionings all select the SAME rebalanced
    // delivery. Movers convention: a language born in the delivery
    // (n_base = 0) gets accept 0 (nothing in the standing mix to
    // rebalance toward — quarantine for review), one that vanished
    // (n_delta = 0) reports accept 1e6 with n_kept 0. Scale shape: the
    // standing side is the pinned histogram snapshot (language-count
    // rows at ANY corpus scale), rates broadcast onto one map-side
    // filtered pass over the delta only — no corpus rescan, no shuffle
    // before the histogram-sized output.
    Q(
      "q180_mix_rebalance",
      (s, d) => {
        val (dir, v) = mixIndex(s, d)
        val base = Snapshots.read(s, dir, Some(v))
        val del = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            (TextFns.h60(col("doc_id").cast("string")) % 100).as("bucket"))
          .filter(col("bucket") >= 90)
          .cache() // consumed by the per-lang histogram and the toss count
        val dHist = del.groupBy(col("lang")).agg(count(lit(1)).as("n_delta"))
        val joined = base.join(dHist, Seq("lang"), "full_outer")
          .select(col("lang"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_delta"), lit(0L)).as("n_delta"))
          .cache() // consumed by the scalar arm and the rate select
        val scal = joined.agg(sum(col("n_base")).as("nb"), sum(col("n_delta")).as("nd"))
        val rates = joined.crossJoin(broadcast(scal))
          .select(col("lang"), col("n_base"), col("n_delta"),
            // nb = 0 (empty standing corpus) is guarded EXPLICITLY:
            // without it the decimal div yields NULL, least() skips the
            // NULL, and accept-everything emerges by accident of SQL
            // NULL semantics (while DuckDB's HUGEINT // 0 raises).
            // Accept-everything IS the right degenerate answer — with
            // no base mix to preserve, nothing constrains the delta —
            // but it must be a defined branch, not a NULL artifact.
            when(col("n_delta") === 0 || col("nb") === 0, lit(1000000L)).otherwise(
              least(lit(1000000L),
                expr("""CAST((CAST(n_base AS DECIMAL(38,0)) * nd * 1000000)
                        div (CAST(n_delta AS DECIMAL(38,0)) * nb) AS BIGINT)""")))
              .as("accept_micro"))
        val kept = del
          .join(broadcast(rates.select(col("lang"), col("accept_micro"))), Seq("lang"))
          .filter(TextFns.h60(concat(col("doc_id").cast("string"), lit("|rb")))
            % 1000000 < col("accept_micro"))
          .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
        rates.join(kept, Seq("lang"), "left")
          .select(col("lang"), col("n_base"), col("n_delta"), col("accept_micro"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy(col("lang"))
      },
      Some {
        val h = T.h60("CAST(doc_id AS VARCHAR)")
        val toss = T.h60("CAST(doc_id AS VARCHAR) || '|rb'")
        s"""
        WITH s AS MATERIALIZED (
          SELECT doc_id, lang, ($h % 100) AS bucket FROM documents),
        b AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_base
              FROM s WHERE bucket < 90 GROUP BY 1),
        dl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_delta
               FROM s WHERE bucket >= 90 GROUP BY 1),
        j AS MATERIALIZED (
          SELECT COALESCE(b.lang, dl.lang) AS lang,
                 COALESCE(b.n_base, 0) AS n_base,
                 COALESCE(dl.n_delta, 0) AS n_delta
          FROM b FULL OUTER JOIN dl ON b.lang = dl.lang),
        t AS (SELECT CAST(SUM(n_base) AS BIGINT) AS nb,
                     CAST(SUM(n_delta) AS BIGINT) AS nd FROM j),
        r AS MATERIALIZED (
          SELECT j.lang, j.n_base, j.n_delta,
                 CASE WHEN j.n_delta = 0 OR t.nb = 0 THEN CAST(1000000 AS BIGINT)
                      ELSE least(CAST(1000000 AS BIGINT),
                        CAST((CAST(j.n_base AS HUGEINT) * t.nd * 1000000)
                             // (CAST(j.n_delta AS HUGEINT) * t.nb) AS BIGINT))
                 END AS accept_micro
          FROM j, t),
        k AS (SELECT s.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
              FROM s JOIN r ON s.lang = r.lang
              WHERE s.bucket >= 90 AND ($toss % 1000000) < r.accept_micro
              GROUP BY 1)
        SELECT r.lang, r.n_base, r.n_delta, r.accept_micro,
               COALESCE(k.n_kept, 0) AS n_kept
        FROM r LEFT JOIN k ON r.lang = k.lang ORDER BY r.lang"""
      }
    ),

    // Deterministic corpus SHUFFLE + shard assignment — the EXPORT
    // step of a training-data pipeline: after dedup/filter/rebalance,
    // the corpus is written as fixed-size shards in a globally
    // shuffled, reproducible order (so every epoch-0 data loader on
    // every rerun reads the same shards in the same order). The
    // shuffle key is a salted md5 of the doc id (h60 ∥ "|sh" — pure
    // function of the id, engine/partitioning-independent); the global
    // rank over (h, doc_id) is the q116 two-phase distributed cumsum
    // with a ones column — range-partition, rank WITHIN partitions,
    // broadcast the ≤shuffle.partitions per-partition counts as
    // offsets — never a single-partition global window (PlanSpec pins
    // it: the only SinglePartition exchange consumes the
    // partition-count frame). shard = rank div 64, pos = rank mod 64.
    // At 100 TB this is one range shuffle + one bounded window — the
    // same plan a petabyte export would run, and the shard boundaries
    // are exact regardless of where the range boundaries land.
    // Incremental (append-only) shard assignment — q182's delivery
    // twin, under the real export contract: ALREADY-SHIPPED SHARDS ARE
    // IMMUTABLE. The standing corpus's assignment is pinned as a
    // snapshot at index time ([[shardIndex]], in Prebuild, with the
    // standing count as commit metadata); a delivery seals the
    // standing sequence (its possibly-partial last shard is never
    // reopened) and starts at shard ceil(n_standing/64), ranked among
    // ITSELF by the same salted md5 key via the same two-phase
    // distributed cumsum. Serving cost: one delta-only scan + the
    // delta-sized rank — the standing corpus contributes one pinned
    // scalar, never a rescan. Spec pins the append contract: appended
    // shards are disjoint from (and after) every pinned standing
    // shard, and the assignment equals the md5-sort replay.
    Q(
      "q183_incremental_shards",
      (s, d) => {
        val ShardSize = 64
        val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
        val (_, _, n90) = shardIndex(s, d)
        val base = (n90 + ShardSize - 1) / ShardSize
        val keyed = Tables.documents(s, d)
          .select(col("doc_id"),
            TextFns.h60(concat(col("doc_id").cast("string"), lit("|sh"))).as("h"),
            (TextFns.h60(col("doc_id").cast("string")) % 100).as("bucket"),
            lit(1L).as("one"))
          .filter(col("bucket") >= 90)
          .select(col("doc_id"), col("h"), col("one"))
        Relational.globalCumsum(keyed, Seq("h", "doc_id"), "one", nParts)
          .select(col("doc_id"),
            (col("running_total").cast("long") - 1).as("rk"))
          .select(col("doc_id"),
            (lit(base) + expr(s"rk div $ShardSize")).cast("long").as("shard"),
            (col("rk") % ShardSize).as("pos_in_shard"))
          .orderBy(col("shard"), col("pos_in_shard"))
      },
      Some {
        val h = T.h60("CAST(doc_id AS VARCHAR) || '|sh'")
        val split = T.h60("CAST(doc_id AS VARCHAR)")
        s"""
        WITH s0 AS MATERIALIZED (
          SELECT doc_id, $h AS h, ($split % 100) AS bucket FROM documents),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n90 FROM s0 WHERE bucket < 90)
        SELECT doc_id,
               CAST((n.n90 + 63) // 64
                    + (row_number() OVER (ORDER BY h, doc_id) - 1) // 64 AS BIGINT) AS shard,
               CAST((row_number() OVER (ORDER BY h, doc_id) - 1) % 64 AS BIGINT) AS pos_in_shard
        FROM s0 CROSS JOIN n WHERE bucket >= 90
        ORDER BY shard, pos_in_shard"""
      }
    ),

    Q(
      "q182_shard_assign",
      (s, d) => {
        val ShardSize = 64
        val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
        val keyed = Tables.documents(s, d)
          .select(col("doc_id"),
            TextFns.h60(concat(col("doc_id").cast("string"), lit("|sh"))).as("h"),
            lit(1L).as("one"))
        Relational.globalCumsum(keyed, Seq("h", "doc_id"), "one", nParts)
          .select(col("doc_id"),
            (col("running_total").cast("long") - 1).as("rk"))
          .select(col("doc_id"),
            expr(s"rk div $ShardSize").cast("long").as("shard"),
            (col("rk") % ShardSize).as("pos_in_shard"))
          .orderBy(col("shard"), col("pos_in_shard"))
      },
      Some {
        val h = T.h60("CAST(doc_id AS VARCHAR) || '|sh'")
        s"""
        SELECT doc_id,
               CAST((row_number() OVER (ORDER BY h, doc_id) - 1) // 64 AS BIGINT) AS shard,
               CAST((row_number() OVER (ORDER BY h, doc_id) - 1) % 64 AS BIGINT) AS pos_in_shard
        FROM (SELECT doc_id, $h AS h FROM documents)
        ORDER BY shard, pos_in_shard"""
      }
    )
  )

}
