package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic local scale-up generator for the 100×-direction
  * sweep: replicates a driver testdata directory N× with SHIFTED key
  * spaces, so join fan-outs, group cardinalities, and corpus size all
  * grow linearly while every FK still resolves. Usage:
  *
  *   tools/run_main.sh graft.GenData /root/testdata/sf0.1 /tmp/sf1 10
  *
  * Shapes preserved per table family:
  *  - star schema (customer/supplier/part/orders/lineitem/events):
  *    copy i shifts every key column by i·10⁷ — each copy is a
  *    self-consistent shard of new entities over the same date range
  *    (larger SF = more activity per day, matching how the driver's
  *    own SFs scale); region/nation stay fixed (dimension constants);
  *  - documents: copy 0 is the original corpus verbatim; copies ≥ 1
  *    deterministically shuffle each doc's token order (sort by md5 of
  *    (token, pos, copy)) AND rewrite a hash-selected ~40% of tokens
  *    with a copy-specific suffix — shuffling kills the long shared
  *    character runs that verbatim copies would hand the span queries,
  *    and the token salting keeps unigram Jaccard/minhash/simhash
  *    similarity to the original BELOW near-dup thresholds (shuffled-
  *    only copies share their unigram set exactly, which makes every
  *    copy group an artificial near-dup cluster and measures dedup
  *    OUTPUT growth instead of engine scaling — observed as phantom
  *    superlinearity in the first round-8 sweep);
  *  - embeddings: copy i rotates each vector left by i positions —
  *    norm-preserving, deterministic, and decorrelated enough that
  *    LSH/IVF bucket occupancy grows linearly instead of 10 exact
  *    twins per bucket.
  *
  * Writes `<out>/<table>.parquet` directories readable by the same
  * [[Tables]] loaders the queries use. Never touches the source dir.
  */
object GenData {

  private val Off = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-separated table subset (e.g.
    // "lineitem,orders" for a graph-only sweep) — the sf10 probe wants
    // 10x the graph inputs without paying the documents token shuffle
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    def wanted(t: String): Boolean = only.forall(_.contains(t))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = Tables(spark, src, t)
    // one parquet FILE per table (driver layout): the streaming readers
    // select tables with pathGlobFilter=<t>.parquet, which matches leaf
    // FILES — a <t>.parquet directory of part files would be invisible
    // to them. Single files stay splittable (row groups).
    def write(df: DataFrame, t: String): Unit = {
      val tmp = s"$out/_tmp_$t"
      // cap row groups at 16 MB: a coalesce(1) file is still SPLITTABLE
      // only at row-group granularity, and the default 128 MB block made
      // the sf10 documents file ONE row group — every scan stage over it
      // ran single-core (q186's 600 s DNF). 16 MB keeps single-file
      // layout but restores scan parallelism.
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 8L * 1024 * 1024)
        .parquet(tmp)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val target = new org.apache.hadoop.fs.Path(s"$out/$t.parquet")
      fs.delete(target, false)
      require(fs.rename(part, target), s"could not publish $target")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"[gendata] $t: ${Tables(spark, out, t).count()} rows")
    }
    val cps = spark.range(copies).select(col("id").cast("long").as("cp"))
    def shiftedDf(df: DataFrame, keys: Seq[String]): DataFrame = {
      // CHAIN GUARD: shifting only works on an UNSHIFTED driver
      // dataset. Chaining two GenData runs (×10 then ×10) makes copy
      // strides overlap — key b+Off·i+Off·j repeats for every (i,j)
      // with equal sum, so a "×100" chain yields only 19 distinct
      // strides with up to 10× key multiplicity. Round 15 learned this
      // the hard way: a chained /tmp/sf10 put duplicate o_orderkeys in
      // front of q194's snapshot MERGE, whose one-row-per-key invariant
      // (correctly) refused — and silently inflated every star-schema
      // join fan-out in the sweep. Generate the target SF in ONE run:
      // GenData <driver sf dir> <out> 100.
      // ONE aggregate job for all keys (not one full scan per key); an
      // empty source yields null maxes, which pass trivially (nothing
      // to collide) instead of an opaque NPE from getLong
      if (keys.nonEmpty) {
        val maxes = df.agg(max(col(keys.head)), keys.tail.map(k => max(col(k))): _*).head()
        keys.zipWithIndex.foreach { case (k, i) =>
          val mx = if (maxes.isNullAt(i)) Long.MinValue else maxes.getLong(i)
          require(mx < Off,
            s"GenData: source $k max $mx >= stride $Off — the source looks like " +
              "a shifted GenData output (or exceeds the stride); chained runs " +
              "collide key spaces. Generate the target SF in ONE run (copies=N) " +
              "from the driver dataset.")
        }
      }
      val rep = df.crossJoin(cps)
      keys.foldLeft(rep)((d, k) => d.withColumn(k, col(k) + col("cp") * Off))
        .select(df.columns.toIndexedSeq.map(col): _*)
    }
    def shifted(t: String, keys: Seq[String]): DataFrame = shiftedDf(read(t), keys)

    // Correlated-triple plant (q174 non-degeneracy at scale): the
    // driver's random baskets have no part TRIPLE recurring past
    // sf0.01 (BASELINE.md round-11 footnote), so scaled sweeps would
    // measure q174's enumeration over a 0-qualifying-triple tail.
    // Deterministically promote ~1% of orders (md5 toss on the order
    // key) to "promo" baskets whose first 3 line items are rewritten
    // to one of [[Triples]] part triples (ids 3t..3t+2 — present in
    // every SF's part table, which keys 0..N); ~147 promo orders per
    // sf0.01-equivalent over 40 triples ≈ 3.7 recurrences each, past
    // q174's min-support 2. Applied BEFORE the copy shift, so every
    // copy carries its own shifted, equally-recurring triples and the
    // qualifying-rule surface grows linearly with SF. Hash parity is
    // unaffected by construction — the oracle recomputes from the same
    // parquet.
    val Triples = 40
    def planted(li: DataFrame): DataFrame = {
      val promo = graft.functions.TextFns.h60(
        concat(col("l_orderkey").cast("string"), lit("|promo"))) % 100 < 1
      val bucket = graft.functions.TextFns.h60(
        concat(col("l_orderkey").cast("string"), lit("|tri"))) % Triples
      li.withColumn("l_partkey",
        when(promo && col("l_linenumber") <= 3,
          bucket * 3 + col("l_linenumber").cast("long") - 1)
          .otherwise(col("l_partkey")))
    }

    if (wanted("region")) write(read("region"), "region")
    if (wanted("nation")) write(read("nation"), "nation")
    if (wanted("customer")) write(shifted("customer", Seq("c_custkey")), "customer")
    if (wanted("supplier")) write(shifted("supplier", Seq("s_suppkey")), "supplier")
    if (wanted("part")) write(shifted("part", Seq("p_partkey")), "part")
    if (wanted("orders")) write(shifted("orders", Seq("o_orderkey", "o_custkey")), "orders")
    if (wanted("lineitem"))
      write(shiftedDf(planted(read("lineitem")),
        Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    if (wanted("events")) write(shifted("events", Seq("event_id", "user_id")), "events")

    if (wanted("documents")) {
    val docs = read("documents")
    require(Option(docs.agg(max(col("doc_id"))).head().get(0)).forall(_.asInstanceOf[Long] < Off),
      "GenData: documents looks like a shifted output — chained runs collide (see shiftedDf)")
    val extra = docs.crossJoin(cps.filter(col("cp") >= 1))
    val salted = extra
      .select(
        (col("doc_id") + col("cp") * Off).as("doc_id"),
        col("lang"), col("source"),
        posexplode(split(trim(col("text")), "\\s+")))
      .select(
        col("doc_id"), col("lang"), col("source"), col("pos"),
        // rewrite a deterministic ~40% of positions with a
        // copy-specific token so unigram-set similarity to the source
        // doc drops below near-dup thresholds
        when(
          graft.functions.TextFns.h60(
            concat_ws("~", col("col"), col("pos"), col("doc_id"))) % 5 < 2,
          concat(col("col"), lit("x"), (col("doc_id") % 97).cast("string")))
          .otherwise(col("col")).as("w"))
    val shuffledText = salted
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(
              graft.functions.TextFns.h60(
                concat_ws("#", col("w"), col("pos"), col("doc_id"))).as("k"),
              col("pos").as("p"),
              col("w")))),
            x => x.getField("w")),
          " ").as("text"))
      .select(
        col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    write(docs.unionByName(shuffledText), "documents")
    }

    if (wanted("embeddings")) {
    val emb = read("embeddings")
    require(Option(emb.agg(max(col("vec_id"))).head().get(0)).forall(_.asInstanceOf[Long] < Off),
      "GenData: embeddings looks like a shifted output — chained runs collide (see shiftedDf)")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // rotate by cp MOD dim — copies can exceed the dimension (a ×100
    // sweep over 64-dim vectors previously fed slice() a negative
    // length); copies at cp ≡ 0 (mod dim) repeat the identity rotation,
    // which is fine (distinct vec_ids, linear bucket growth holds)
    val rotated = emb.crossJoin(cps)
      .select(
        (col("vec_id") + col("cp") * Off).as("vec_id"),
        when(col("cp") % dim === 0, col("embedding")).otherwise(
          concat(
            expr(s"slice(embedding, CAST(cp % $dim + 1 AS INT), $dim - CAST(cp % $dim AS INT))"),
            expr(s"slice(embedding, 1, CAST(cp % $dim AS INT))"))).as("embedding"),
        col("label"))
    write(rotated, "embeddings")
    }

    spark.stop()
  }
}
