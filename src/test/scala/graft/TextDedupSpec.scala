package graft

import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Property checks for the portable-hash dedup primitives on crafted
  * near-duplicate documents (the driver's synthetic corpus has no true
  * dups, so these behaviors are pinned here).
  */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"

  private lazy val docs = Seq(
    (0L, base),
    (1L, base), // exact duplicate
    (2L, base.replace("warm", "cold")), // near duplicate (1 token)
    (3L, "completely different words about spark shuffles and partitions and joins and aggregates here")
  ).toDF("doc_id", "text")

  private def shingleSets = docs
    .select(col("doc_id"), explode(TextFns.shingles(TextFns.tokens(col("text")), 3)).as("sh"))
    .distinct()

  test("identical docs share every minhash value; disjoint docs share none") {
    val hm = shingleSets.select(col("doc_id"), TextFns.hmod(col("sh")).as("hm"))
    val sigs = hm
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(15)),
          j => struct(j.as("j"), TextFns.minhashJ(col("hm"), j).as("h")))).as("jh"))
      .groupBy(col("doc_id"), col("jh.j").as("j"))
      .agg(min(col("jh.h")).as("mh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("j"), col("mh")))).as("sig"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](1))
      .toMap
    assert(sigs(0L) == sigs(1L), "exact dup must have identical signature")
    val matches02 = sigs(0L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(matches02 > 8, s"near-dup should agree on most minhashes, got $matches02/16")
    val matches03 = sigs(0L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(matches03 < 4, s"disjoint docs should rarely collide, got $matches03/16")
  }

  test("n-gram jaccard: dup=1.0, near-dup high, disjoint=absent") {
    val sh = shingleSets
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("na"), col("da") === col("na.doc_id"))
      .join(sizes.as("nb"), col("db") === col("nb.doc_id"))
      .select(col("da"), col("db"),
        (col("inter").cast("double") / (col("na.n") + col("nb.n") - col("inter"))).as("j"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs((0L, 2L)) > 0.7 && pairs((0L, 2L)) < 1.0)
    assert(!pairs.contains((0L, 3L)), "disjoint docs share no shingle, so never meet")
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val tokd = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tk"))
      .distinct()
      .select(col("doc_id"), TextFns.h60(col("tk")).as("th"))
    val bitSums = (0 until 32).map { b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val sim = (0 until 32)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    val out = tokd.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == out(1L))
    assert(java.lang.Long.bitCount(out(0L) ^ out(2L)) <= 8,
      s"near-dup hamming too large: ${java.lang.Long.bitCount(out(0L) ^ out(2L))}")
    assert(java.lang.Long.bitCount(out(0L) ^ out(3L)) >
      java.lang.Long.bitCount(out(0L) ^ out(2L)),
      "disjoint doc should be farther than near-dup")
  }

  test("h60 is stable (pinned value) and within 60 bits") {
    val v = docs.sparkSession.range(1)
      .select(TextFns.h60(lit("hello")).as("h")).head().getLong(0)
    // DuckDB: SELECT CAST('0x'||substr(md5('hello'),1,15) AS BIGINT) = 419982666956583591
    assert(v == 419982666956583591L)
  }

  test("connected components: chain needs multi-round propagation, cliques stay separate") {
    // chain 10-11-...-17 (diameter 7, forces >= 7 propagation rounds)
    // plus a disjoint triangle {30, 31, 32} and an isolated pair {40, 41}
    val chain = (10L until 17L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((30L, 31L), (31L, 32L), (30L, 32L), (40L, 41L)))
      .toDF("a", "b")
    val labels = operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (10L to 17L).foreach(n => assert(labels(n) == 10L, s"chain node $n"))
    (30L to 32L).foreach(n => assert(labels(n) == 30L, s"triangle node $n"))
    (40L to 41L).foreach(n => assert(labels(n) == 40L, s"pair node $n"))
    assert(labels.size == 13)
  }

  /** Min-label propagation — the previous q84 engine, kept ONLY as the
    * round-count control `Dedup.connectedComponentsWithRounds` is raced
    * against below (rounds = graph diameter; the star algorithm must
    * beat it strictly on the chain fixture). Each round is one
    * equi-join + keyed min-agg; the driver collects one scalar per
    * round: the decimal label-sum certificate (labels are monotone
    * non-increasing, so an unchanged sum proves a global fixpoint, and
    * decimal(38) can't overflow on large surrogate ids the way an
    * int64 sum could).
    */
  private def minLabelPropagation(pairsDf: DataFrame): (DataFrame, Int) = {
    val undirected = pairsDf.toDF("pa", "pb")
    val edges = undirected
      .union(undirected.select(col("pb"), col("pa")))
      .toDF("src", "dst")
      .cache()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    def certificate(df: DataFrame): BigDecimal =
      Option(
        df.agg(sum(col("lbl").cast(DecimalType(38, 0)))).head().getDecimal(0))
        .map(BigDecimal(_)).getOrElse(BigDecimal(0))
    var cur = certificate(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 30) {
      val prop = edges
        .join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("lbl"))
      // localCheckpoint (eager), not cache: it TRUNCATES lineage, so the
      // plan stays bounded no matter how many rounds run — with cache the
      // logical plan grows by one join+agg per round and the driver pays
      // ever-longer analysis (and eventually OOMs) on big graphs
      val next = labels.union(prop)
        .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
      val nxt = certificate(next)
      labels = next
      converged = nxt == cur
      cur = nxt
      rounds += 1
    }
    require(converged, s"label propagation did not converge in $rounds rounds")
    (labels, rounds)
  }

  test("star contraction beats min-label propagation on a chain, answers identically") {
    // a length-24 chain is the adversarial dup topology (templated web
    // text): diameter 23, so propagation pays ~one round per hop while
    // the star rounds grow with log of component size
    val pairs = (100L until 123L).map(i => (i, i + 1)).toDF("a", "b")
    val (starLabels, starRounds) = operators.Dedup.connectedComponentsWithRounds(pairs)
    val star = starLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (100L to 123L).foreach(n => assert(star(n) == 100L, s"chain node $n"))
    val (propLabels, propRounds) = minLabelPropagation(pairs)
    val prop = propLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop, "both algorithms must produce identical components")
    assert(starRounds < propRounds,
      s"star contraction ($starRounds rounds) must beat diameter-bound propagation ($propRounds)")
    assert(starRounds <= 7,
      s"star rounds must stay logarithmic on a 24-node chain, got $starRounds")
  }

  test("connected components: empty edge set yields empty labels") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(operators.Dedup.connectedComponents(empty).count() == 0)
  }

  test("simhash pairs: exact+near dups pair up within hamming 3, disjoint docs don't") {
    val out = operators.Dedup.simhashPairs(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out.contains((0L, 1L)) && out((0L, 1L)) == 0,
      "exact dup must pair at hamming 0")
    // doc 2 differs from doc 0 by one token — hamming stays tiny
    assert(out.get((0L, 2L)).forall(_ <= 3))
    assert(!out.keys.exists { case (a, b) => a == 3L || b == 3L },
      "disjoint doc must not appear in any near-dup pair")
  }

  test("incremental near-dup probe is consistent with the one-shot pair scan (q130 vs q47)") {
    // sf0.01: the corpus actually contains cross-boundary near-dups
    val inc = SparkEntry.queries("q130_incremental_neardup")(spark, sf("sf0.01"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(inc.nonEmpty, "sf0.01 must yield at least one incremental near-dup")
    inc.foreach { case (newDoc, dupOf, _, j) =>
      assert(newDoc >= 400 && dupOf < 400, s"batch/index split violated: $newDoc/$dupOf")
      assert(j >= operators.Dedup.DupJaccard, s"below threshold: $j")
    }
    // every probe hit must appear in the full-corpus scan with the
    // SAME verified intersection and jaccard (q47 orders doc_a < doc_b)
    val full = SparkEntry.queries("q47_minhash_pairs")(spark, sf("sf0.01"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    inc.foreach { case (newDoc, dupOf, inter, j) =>
      val pair = (math.min(newDoc, dupOf), math.max(newDoc, dupOf))
      assert(full.get(pair).contains((inter, j)),
        s"probe hit $pair (inter=$inter, j=$j) missing or different in the one-shot scan")
    }
  }

  /** Writes a documents.parquet fixture in the testdata layout. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_spans").toString
    rows.map { case (id, t) => (id, t, "en", "fix", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("q141 winnowing spans: a shared region is found at DIFFERENT offsets; unique docs stay clean") {
    // the content-defined anchor selection must find the same region
    // regardless of where it sits in each document — the exact failure
    // mode of fixed-stride fingerprint sampling
    // 123 chars — comfortably past the K+W-1=34-char detection guarantee
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    assert(shared.length >= 34)
    // fillers must be aperiodic (a repeated short motif would create
    // genuine intra-filler duplicate grams) and share no 20-gram with
    // each other or the region — plain distinct prose
    val fillA = "the first document opens with its own distinct introduction "
    val fillB = "meanwhile a rather different preamble starts the second one here today "
    val uniqueC = "this text shares no twenty character gram with anything else in the fixture corpus at all, honestly"
    val dir = docsDir(Seq(
      (1L, fillA + shared + " and then it ends"),
      (2L, fillB + shared + " closing differently"),
      (3L, uniqueC)))
    val out = SparkEntry.queries("q141_dup_spans")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set(1L, 2L), s"exactly the two region-sharing docs must report spans: $out")
    // a recurring 20-gram can only lie fully inside the shared region
    // (every filler gram is unique), so each doc's duplicated chars are
    // bounded by the region length and land inside it
    val spans = SparkEntry.queries("q141_dup_spans")(spark, dir)
    out.foreach { case (id, (nSpans, dupChars, ppm)) =>
      assert(nSpans >= 1 && dupChars >= 20 && dupChars <= shared.length,
        s"doc $id span stats out of range: $nSpans spans, $dupChars chars")
      assert(ppm > 0 && ppm <= 1000000)
    }
    // both copies must mark substantially the same content: the two
    // docs' duplicated-char counts come from identical anchors
    assert(out(1L)._2 == out(2L)._2,
      s"same region, same anchors -> same dup_chars; got ${out(1L)._2} vs ${out(2L)._2}")
  }

  test("q189 exact cover: exact char bounds, sub-34-char regions winnowing can miss, intra-doc repeats") {
    // contexts are engineered so the TRUE maximal duplicated region is
    // exactly the planted string: the chars adjacent to each planted
    // copy differ between the copies (a shared space on either side
    // would honestly extend the duplicated region — the exact verb
    // would be right to report it)
    val shared = "alpha bravo charlie delta echo foxtrot golf" // 43 chars
    val short = "twenty two characters!" // 22 — below q141's 34-char guarantee
    val motif = "zebra yankee xray walrus!" // 25, planted twice in one doc
    assert(shared.length == 43 && short.length == 22 && motif.length == 25)
    val dir = docsDir(Seq(
      (1L, "the first document opens with its own introduction1" + shared + "2 and then it finishes"),
      (2L, "meanwhile a rather different preamble comes second3" + shared + "4 closing differently"),
      (3L, "this text shares no twenty character gram with anything else in the fixture corpus at all, honestly"),
      (4L, "completely fresh opening words A" + short + "B unique trailing text follows"),
      (5L, "another disjoint preamble sits C" + short + "D with some other ending"),
      (6L, "X" + motif + " strictly unique middle padding goes here " + motif + "Y trailing words")))
    val out = SparkEntry.queries("q189_exact_dup_cover")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out.keySet == Set(1L, 2L, 4L, 5L, 6L),
      s"exactly the dup-carrying docs must report: $out")
    // cross-doc region: one span covering EXACTLY the planted 43 chars
    Seq(1L, 2L).foreach { id =>
      val (n, dup, mx, ppm) = out(id)
      assert(n == 1 && dup == 43L && mx == 43L,
        s"doc $id must report one exact 43-char span, got $n/$dup/$mx")
      assert(ppm > 0 && ppm <= 1000000)
    }
    // 22-char region: inside the exact verb's K=20 reach (q141's
    // winnowed guarantee starts at 34) — exact bounds again
    Seq(4L, 5L).foreach { id =>
      val (n, dup, mx, _) = out(id)
      assert(n == 1 && dup == 22L && mx == 22L,
        s"doc $id must report one exact 22-char span, got $n/$dup/$mx")
    }
    // intra-doc repetition: both copies exactly covered, not merged
    val (n6, dup6, mx6, _) = out(6L)
    assert(n6 == 2 && dup6 == 50L && mx6 == 25L,
      s"doc 6 must report two exact 25-char spans, got $n6/$dup6/$mx6")
  }

  test("q141 hard guarantee: a minimum-length (34-char) region is detected under EVERY random surrounding context") {
    // true winnowing's worst-case bound: a duplicated region of
    // K+W-1 = 34 chars contains one full W-gram window, and
    // rightmost-min selection is window-LOCAL, so every copy anchors
    // the same gram no matter what fingerprints surround it. The
    // pre-fix symmetric local-min filter had no such bound — a smaller
    // fingerprint just outside one copy could suppress its in-region
    // anchor, and across 80 random contexts it missed with near
    // certainty. 80 docs, each = random filler + R + random filler.
    val R = "zzqjvkxw marble lantern quince bz" + "q" // exactly 34 chars
    assert(R.length == 34)
    val rnd = new scala.util.Random(7)
    def filler(): String =
      (0 until (rnd.nextInt(81))).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val docs = (0L until 80L).map(i => (i, filler() + R + filler()))
    val dir = docsDir(docs)
    val out = SparkEntry.queries("q141_dup_spans")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(out == docs.map(_._1).toSet,
      s"every doc embeds the same 34-char region; missing from spans: ${docs.map(_._1).toSet -- out}")
  }

  test("q141 catches INTRA-document repetition and reports sane per-doc stats on the corpus") {
    val para = "every llm corpus carries boilerplate that repeats inside single pages far more than anyone expects! " // 100 chars
    val dir = docsDir(Seq(
      (1L, para + para), // same 100 chars twice
      (2L, "nothing here repeats: just one short plain sentence with ordinary words and no copied content")))
    val out = SparkEntry.queries("q141_dup_spans")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out.contains(1L) && !out.contains(2L),
      s"self-repeating doc must report spans, clean doc must not: $out")
    // anchors are content-sparse (~1/W of positions, each marking a
    // 20-gram): both copies mark the same anchor set, covering a large
    // minority of the doc (measured 400000 ppm on this fixture)
    assert(out(1L) >= 300000, s"both copies of the paragraph should mark sizable spans: ${out(1L)} ppm")
    // corpus-level sanity at sf0.001: every reported row respects the
    // structural bounds (spans are >= gram length, ppm is a valid share)
    val rows = SparkEntry.queries("q141_dup_spans")(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty, "the synthetic corpus has near-dup docs; spans must surface")
    rows.foreach { r =>
      val (n, chars, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n >= 1 && chars >= 20 * n && ppm >= 1 && ppm <= 1000000,
        s"row out of bounds: $r")
    }
  }

  test("q144 incremental spans: only index-matching content flags; within-batch repeats wait for the full pass") {
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val batchOnly = "widget sprocket flange gimbal rotor stator plenum manifold gasket spindle crank journal bearing race cage seal housing shaft key"
    val dir = docsDir(Seq(
      (10L, "an indexed page that established this content first " + shared),
      (400L, "a fresh crawl result that copies the indexed page " + shared),
      (401L, "first fresh page sharing only with its own batch " + batchOnly),
      (402L, "second fresh page sharing only with its own batch too " + batchOnly),
      (403L, "a genuinely novel page with nothing copied from anywhere at all")))
    val out = SparkEntry.queries("q144_incremental_spans")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // index-matching content flags; batch-only and novel do not; the
    // index side never appears in a delivery report
    assert(out.keySet == Set(400L),
      s"only the doc duplicating INDEXED content may flag: $out")
    assert(out(400L) >= 20 && out(400L) <= shared.length)
    // but the corpus-wide pass (q141) does see the within-batch pair
    val full = SparkEntry.queries("q141_dup_spans")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(Set(401L, 402L).subsetOf(full),
      "the full pass must still catch within-batch recurrence q144 defers")
    // corpus-level: every q144 mark is a subset of q141's (an
    // index-matched anchor is corpus-recurring by definition)
    val incCut = SparkEntry.queries("q144_incremental_spans")(spark, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val fullCut = SparkEntry.queries("q141_dup_spans")(spark, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(incCut.nonEmpty, "sf0.001 must have cross-split duplicate content")
    incCut.foreach { case (id, c) =>
      assert(id >= 400, s"index doc $id leaked into the delivery report")
      assert(fullCut.contains(id) && c <= fullCut(id),
        s"doc $id: incremental marks $c must be within the full pass's ${fullCut.get(id)}")
    }
  }

  test("q142 span removal: exact char accounting, agreement with q141, clean docs pass through verbatim") {
    val para = "every llm corpus carries boilerplate that repeats inside single pages far more than anyone expects! " // repeated -> spans
    val cleanText = "nothing here repeats: just one short plain sentence with ordinary words and no copied content"
    val dir = docsDir(Seq((1L, para + para), (2L, cleanText)))
    val out = SparkEntry.queries("q142_span_removal")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // EVERY doc appears exactly once, cut or not
    assert(out.keySet == Set(1L, 2L))
    // the clean doc passes through byte-identically
    val (o2, c2, k2, m2) = out(2L)
    assert(c2 == 0 && k2 == o2 && m2 == org.apache.commons.codec.digest.DigestUtils.md5Hex(cleanText))
    // the repetitive doc was actually cut, and the accounting is exact
    val (o1, c1, k1, _) = out(1L)
    assert(c1 > 0 && o1 == c1 + k1, s"orig=$o1 cut=$c1 clean=$k1")
    // corpus level: the invariant holds for every document at sf0.001,
    // and q142's cut_chars equals q141's dup_chars doc-for-doc
    val rows = SparkEntry.queries("q142_span_removal")(spark, sf("sf0.001")).collect()
    assert(rows.length == spark.read.parquet(sf("sf0.001") + "/documents.parquet").count())
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3), s"char accounting broken: $r")
    }
    val cutByDoc = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val q141 = SparkEntry.queries("q141_dup_spans")(spark, sf("sf0.001")).collect()
    assert(q141.nonEmpty)
    q141.foreach { r =>
      assert(cutByDoc(r.getLong(0)) == r.getLong(2),
        s"q142 cut_chars must equal q141 dup_chars for doc ${r.getLong(0)}")
    }
    // docs q141 does NOT flag must be uncut
    val flagged = q141.map(_.getLong(0)).toSet
    cutByDoc.foreach { case (id, cut) =>
      assert((cut > 0) == flagged(id), s"doc $id cut=$cut but flagged=${flagged(id)}")
    }
  }
}
