package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min, when}
import org.apache.spark.sql.types.{DataType, DateType, NumericType, StringType, StructType}

/** Snapshot versioning for warehouse tables — the minimal table-format
  * core (what Delta/Iceberg manifests do) expressed on plain parquet +
  * a manifest-per-version directory layout:
  *
  * {{{
  *   table/
  *     data/<uuid>/part-*.parquet     immutable, never rewritten
  *     _manifests/v00001.manifest    one line per data file
  * }}}
  *
  * Invariants that make this scale:
  *  - data files are IMMUTABLE: an append commit writes only the new
  *    files and a new manifest that lists old + new — version N+1
  *    shares version N's files byte-for-byte (no rewrite, no copy);
  *  - a manifest is the ATOMIC unit of visibility: written to a temp
  *    name, fsync'd, then renamed into place (rename is atomic on
  *    HDFS/posix). A reader either sees the complete new version or
  *    the previous one — never a partial file list. A crash mid-commit
  *    leaves a `.tmp` manifest that every reader ignores;
  *  - rollback is a COMMIT, not a delete: restoring version V writes a
  *    new manifest with V's file list, so history (and every
  *    concurrent reader's pinned version) stays intact;
  *  - readers pin a version by reading ONE manifest file — time-travel
  *    costs a single small-file read, never a directory diff.
  *
  * Concurrency contract — OPTIMISTIC, like Delta/Iceberg: the manifest
  * publish is an atomic put-if-absent (local filesystems: a hard-link
  * create, which fails with EEXIST atomically; HDFS-style filesystems:
  * rename, which refuses an existing destination), so two committers
  * racing to the same version get exactly one winner — the loser
  * raises [[ConcurrentSnapshotException]] with nothing clobbered and
  * its orphaned data files invisible to every reader. Callers
  * can pass `expected` (the version they based their read on) to
  * refuse even non-colliding lost-update writes, and
  * [[Snapshots.commitWithRetry]] re-reads + re-publishes on conflict —
  * the retry loop every production table format runs. Readers are
  * always safe: they only ever open fully-published manifests.
  *
  * The reference's warehouse has no versioning (replace-mode writes
  * destroy history, `src/pipelines/etl.py:45-52`); this is the
  * engine-side upgrade a monthly-batch warehouse needs the first time
  * a bad run must be rolled back.
  */
/** A snapshot write lost the optimistic race: another committer
  * published the version this write targeted (or, with `expected`,
  * the table moved past the version the write was based on). Nothing
  * was clobbered; callers re-read and retry ([[Snapshots.commitWithRetry]]).
  */
final class ConcurrentSnapshotException(msg: String) extends java.io.IOException(msg)

object Snapshots {

  private val ManifestDir = "_manifests"
  private val DataDir = "data"

  /** Manifest header line carrying the committed schema as Spark's
    * JSON encoding. Lets [[read]] reconstruct an EMPTY version (zero
    * data files) as an empty DataFrame with the right schema instead
    * of failing on a file-less parquet scan — without it, one empty
    * commit would poison every subsequent latest-version read.
    * Lines starting with `#` are metadata; readers of the file list
    * skip them, so pre-header manifests stay readable.
    */
  private val SchemaPrefix = "#schema "

  /** Manifest metadata lines (`#meta k=v`): small commit-scoped
    * key-value pairs — what an exactly-once streaming sink uses to
    * record the micro-batch id a version delivered
    * ([[graft.streaming.SnapshotSink]]). Rollback copies manifest
    * lines verbatim, metadata included: restoring a version restores
    * its stream position too, so a post-rollback restart re-delivers
    * from that point instead of resuming past data the rollback
    * removed.
    */
  private val MetaPrefix = "#meta "

  /** Per-file zone-map lines (`#stats <relpath>\t<col>\t<n_nonnull>\t
    * <b64min>\t<b64max>`): min/max/count recorded at commit time for
    * the columns the committer declares (`statsCols`), the
    * Delta/Iceberg file-statistics core. `#`-prefixed, so every
    * pre-stats reader skips them; a file with no stats line for a
    * column is simply never pruned (fallback = correct, not fast).
    * Values ride as base64 of the string form — content-safe for any
    * corpus bytes — and [[scanRange]] re-parses them under the
    * column's committed type, so numeric comparison is numeric, never
    * lexicographic.
    */
  private val StatsPrefix = "#stats "

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** (relpath, column) → (n_nonnull, min, max); min/max None for an
    * all-null file.
    */
  private def statsOf(lines: Seq[String]): Map[(String, String), (Long, Option[String], Option[String])] =
    lines.filter(_.startsWith(StatsPrefix)).flatMap { l =>
      l.stripPrefix(StatsPrefix).split('\t') match {
        case Array(rel, c, n, mn, mx) =>
          Some((rel, c) -> ((
            n.toLong,
            if (mn == "-") None else Some(unb64(mn)),
            if (mx == "-") None else Some(unb64(mx)))))
        case _ => None // malformed stats line: ignore, file just won't prune
      }
    }.toMap

  /** Meta keys that ride forward onto every subsequent commit unless
    * the commit sets them itself. The stream high-water mark must
    * survive maintenance rewrites (compaction, clustering, merge): if
    * only the original delivery commits carried it, a vacuum that
    * drops those manifests would erase the mark and a restarted stream
    * would double-deliver. An explicitly supplied value always wins;
    * rollback still repositions the mark by restoring the old manifest
    * verbatim.
    */
  private val StickyMeta: Set[String] = Set("stream_batch_id")

  /** Sticky entries of the latest version, minus keys `supplied` sets. */
  private def carriedMeta(
      spark: SparkSession,
      tableDir: String,
      prev: Seq[Int],
      supplied: Map[String, String]): Map[String, String] =
    prev.lastOption
      .map(v => meta(spark, tableDir, v))
      .getOrElse(Map.empty)
      .filter { case (k, _) => StickyMeta(k) && !supplied.contains(k) }

  private def fileLines(lines: Seq[String]): Seq[String] =
    lines.filterNot(_.startsWith("#"))

  private def schemaOf(lines: Seq[String]): Option[StructType] =
    lines.find(_.startsWith(SchemaPrefix))
      .map(l => DataType.fromJson(l.stripPrefix(SchemaPrefix)).asInstanceOf[StructType])

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(table: Path, v: Int): Path =
    new Path(new Path(table, ManifestDir), f"v$v%05d.manifest")

  /** Committed versions, ascending (temp/partial manifests excluded). */
  def versions(spark: SparkSession, tableDir: String): Seq[Int] = {
    val mdir = new Path(new Path(tableDir), ManifestDir)
    val f = fs(spark, mdir)
    if (!f.exists(mdir)) Seq.empty
    else
      f.listStatus(mdir).toSeq
        .map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
        .map(n => n.stripPrefix("v").stripSuffix(".manifest").toInt)
        .sorted
  }

  private def readManifest(spark: SparkSession, table: Path, v: Int): Seq[String] = {
    val f = fs(spark, table)
    val in = f.open(manifestPath(table, v))
    try
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Metadata recorded with version `v`'s commit (empty for plain
    * commits and for pre-metadata manifests).
    */
  def meta(spark: SparkSession, tableDir: String, v: Int): Map[String, String] =
    readManifest(spark, new Path(tableDir), v)
      .filter(_.startsWith(MetaPrefix))
      .map { l =>
        val kv = l.stripPrefix(MetaPrefix)
        val i = kv.indexOf('=')
        kv.take(i) -> kv.drop(i + 1)
      }
      .toMap

  /** Commit `df` as a new version. `replace = false` (append) lists the
    * previous version's files PLUS the new ones; `replace = true` lists
    * only the new ones — either way no existing file is touched, so
    * every prior version stays readable. `meta` key-value pairs are
    * recorded in the manifest (see [[meta]]). Returns the committed
    * version.
    */
  def commit(
      df: DataFrame,
      tableDir: String,
      replace: Boolean = false,
      meta: Map[String, String] = Map.empty,
      expected: Option[Int] = None,
      statsCols: Seq[String] = Nil): Int = {
    meta.foreach { case (k, v) =>
      require(!k.contains('=') && (k + v).forall(c => c != '\n' && c != '\r'),
        s"snapshot meta must be line-safe and '='-free in keys: $k=$v")
    }
    val spark = df.sparkSession
    val table = new Path(tableDir)
    val f = fs(spark, table)
    // schema check BEFORE any file lands: an append must carry every
    // existing column at its exact type (anything else would poison
    // readers of the mixed file list); columns the table has not seen
    // are ADD-COLUMN evolution — recorded nullable, and [[read]] pins
    // the version schema so pre-evolution files null-fill them
    val prev = versions(spark, tableDir)
    // optimistic concurrency: refuse before any file lands when the
    // table has moved past the version this write was based on
    expected.foreach { e =>
      val cur = prev.lastOption.getOrElse(0)
      if (cur != e)
        throw new ConcurrentSnapshotException(
          s"snapshot commit to $tableDir expected version $e but found $cur — " +
            "re-read the table and retry")
    }
    val committed =
      if (replace || prev.isEmpty) df.schema
      else schemaOf(readManifest(spark, table, prev.last)) match {
        case None => df.schema // pre-schema-header table: nothing to check against
        case Some(old) =>
          val incoming = df.schema.fields.map(fd => fd.name -> fd.dataType).toMap
          old.fields.foreach { fd =>
            require(incoming.get(fd.name).contains(fd.dataType),
              s"append schema must carry existing column ${fd.name}: ${fd.dataType.sql} " +
                s"(got ${incoming.get(fd.name).map(_.sql).getOrElse("nothing")}) — " +
                "dropping or retyping a column needs an explicit replace")
          }
          val known = old.fieldNames.toSet
          StructType(old.fields ++
            df.schema.fields.filterNot(fd => known(fd.name)).map(_.copy(nullable = true)))
      }
    // 1. write the new data files under a fresh uuid dir (never visible
    //    to readers until a manifest names them)
    val batch = java.util.UUID.randomUUID.toString.replace("-", "")
    val dataPath = new Path(new Path(table, DataDir), batch)
    df.write.parquet(dataPath.toString)
    val newFiles = f.listStatus(dataPath).toSeq
      .map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(p => s"$DataDir/$batch/${p.getName}")
      .sorted
    // 2. new manifest = (previous files if appending) + new files
    val v = prev.lastOption.getOrElse(0) + 1
    val prevLines =
      if (replace || prev.isEmpty) Seq.empty[String]
      else readManifest(spark, table, prev.last)
    val files = fileLines(prevLines) ++ newFiles
    // zone maps for the NEW files only (retained files carry theirs
    // forward): one metadata-scale aggregate over the just-written
    // delta — the file-statistics pass every production table format
    // runs at commit time
    val statLines = if (statsCols.isEmpty) Seq.empty[String] else {
      statsCols.foreach { c =>
        val fd = committed.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"statsCols column $c not in committed schema"))
        require(
          fd.dataType.isInstanceOf[NumericType] ||
            fd.dataType == StringType || fd.dataType == DateType,
          s"statsCols supports numeric/string/date columns, got ${fd.dataType.sql} for $c")
      }
      val aggs = statsCols.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"),
        count(col(c)).as(s"n_$c")))
      spark.read.schema(df.schema).parquet(dataPath.toString)
        .groupBy(input_file_name().as("_file"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .toSeq
        .flatMap { r =>
          val rel = s"$DataDir/$batch/" +
            new Path(new java.net.URI(r.getString(0))).getName
          statsCols.map { c =>
            val mn = Option(r.getAs[String](s"mn_$c")).map(b64).getOrElse("-")
            val mx = Option(r.getAs[String](s"mx_$c")).map(b64).getOrElse("-")
            s"$StatsPrefix$rel\t$c\t${r.getAs[Long](s"n_$c")}\t$mn\t$mx"
          }
        }
        .sorted
    }
    val carriedStats = prevLines.filter(_.startsWith(StatsPrefix))
    // 3. atomic publish: temp write, fsync, rename into place (schema
    //    header first so even a zero-file version stays readable)
    val fullMeta = carriedMeta(spark, tableDir, prev, meta) ++ meta
    val header = (SchemaPrefix + committed.json) +:
      fullMeta.toSeq.sorted.map { case (k, mv) => s"$MetaPrefix$k=$mv" }
    publish(f, manifestPath(table, v), header ++ carriedStats ++ statLines ++ files, "commit")
    v
  }

  /** [[commit]] wrapped in the optimistic-concurrency retry loop: on a
    * detected conflict, re-read the (new) latest version and republish
    * on top of it — append file lists and carried metadata recompute
    * from the fresh head each attempt, so a retried append lands after
    * the winner instead of over it. Refuses (rethrows) after
    * `maxAttempts` conflicts.
    */
  def commitWithRetry(
      df: DataFrame,
      tableDir: String,
      replace: Boolean = false,
      meta: Map[String, String] = Map.empty,
      maxAttempts: Int = 5): Int = {
    def attempt(n: Int): Int =
      try commit(df, tableDir, replace, meta)
      catch {
        case e: ConcurrentSnapshotException =>
          if (n >= maxAttempts) throw e
          attempt(n + 1)
      }
    attempt(1)
  }

  /** Temp-write + fsync + atomic put-if-absent publish shared by
    * commit, rollback, and the rewrite verbs. On `file:` filesystems
    * the put-if-absent is a hard-link create (POSIX link(2) fails with
    * EEXIST atomically — a plain rename would silently REPLACE the
    * winner); on HDFS-style filesystems it is the rename itself, which
    * refuses an existing destination. Either way two racing publishers
    * of the same version get exactly one winner and one
    * [[ConcurrentSnapshotException]].
    */
  private def publish(f: FileSystem, target: Path, files: Seq[String], op: String): Unit = {
    // writer-UNIQUE temp name: two racing publishers of the same
    // version must not share a staging file (one's cleanup would yank
    // the other's bytes/checksum mid-write); readers ignore any
    // non-v*.manifest name
    val tmp = new Path(
      target.getParent,
      target.getName + "." + java.util.UUID.randomUUID.toString.replace("-", "") + ".tmp")
    val out = f.create(tmp, true)
    try {
      out.write(files.mkString("", "\n", "\n").getBytes("UTF-8"))
      out.hsync()
    } finally out.close()
    def conflict(): Nothing = {
      f.delete(tmp, false)
      throw new ConcurrentSnapshotException(
        s"snapshot $op: $target already published — lost the race to a concurrent committer")
    }
    if (f.getScheme == "file") {
      try
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
      catch { case _: java.nio.file.FileAlreadyExistsException => conflict() }
      f.delete(tmp, false)
    } else {
      if (f.exists(target)) conflict()
      if (!f.rename(tmp, target)) conflict()
    }
  }

  /** True when `dir` is under snapshot control (has a manifest
    * directory) — the guard raw-directory maintenance verbs use to
    * refuse rewrites that would bypass versioning.
    */
  def isVersioned(spark: SparkSession, dir: String): Boolean = {
    val mdir = new Path(new Path(dir), ManifestDir)
    fs(spark, mdir).exists(mdir)
  }

  /** Absolute data-file paths of a version (latest when None). This is
    * the maintenance entry point: compaction sizes its output from
    * real on-disk file lengths, and the spec uses it to prove a pinned
    * version still lists the exact same physical files after a
    * rewrite-commit.
    */
  def files(spark: SparkSession, tableDir: String, version: Option[Int] = None): Seq[Path] = {
    val table = new Path(tableDir)
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no committed snapshot under $tableDir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    fileLines(readManifest(spark, table, v)).map(rel => new Path(table, rel))
  }

  /** Read a pinned version, or the latest when `version` is None. */
  def read(
      spark: SparkSession,
      tableDir: String,
      version: Option[Int] = None): DataFrame = {
    val table = new Path(tableDir)
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no committed snapshot under $tableDir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val files = fileLines(lines).map(rel => new Path(table, rel).toString)
    if (files.nonEmpty) schemaOf(lines) match {
      // pin the version's recorded schema: files older than an
      // add-column evolution simply null-fill the columns they lack
      // (standard parquet missing-column semantics), and a pinned
      // version always reads with ITS schema, not a later one
      case Some(st) => spark.read.schema(st).parquet(files: _*)
      case None => spark.read.parquet(files: _*)
    }
    else schemaOf(lines) match {
      case Some(st) => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], st)
      case None => throw new java.io.IOException(
        s"snapshot read: version $v of $tableDir has no files and no recorded schema " +
          "(pre-schema-header manifest) — pin a non-empty version")
    }
  }

  /** Zone-map-pruned range scan: read version `version` (latest when
    * None) keeping only the data files whose recorded [min, max] for
    * `colName` intersects [lo, hi], then apply the residual BETWEEN
    * filter — semantically identical to
    * `read(...).filter(col(colName).between(lo, hi))`, but the driver
    * drops provably-disjoint files from the scan BEFORE any task
    * launches: with a range-clustered layout
    * ([[Warehouse.clusterWrite]]'s disjoint key ranges) a narrow
    * predicate touches O(1) files of a 100 TB table instead of all of
    * them — Delta/Iceberg data skipping on this manifest format.
    * Files without stats for `colName` (pre-stats commits, rewrite
    * verbs) are always read — fallback is correct, just not fast; an
    * all-null file is skipped (BETWEEN drops nulls). Comparison runs
    * under the column's committed type — numeric via BigDecimal,
    * date/string by ISO/lexicographic form — and any unparsable value
    * keeps its file.
    */
  def scanRange(
      spark: SparkSession,
      tableDir: String,
      colName: String,
      lo: Any,
      hi: Any,
      version: Option[Int] = None): DataFrame =
    scanBox(spark, tableDir, Seq((colName, lo, hi)), version)

  /** Multi-predicate zone-map scan — [[scanRange]] generalized to a
    * conjunction of BETWEEN predicates (a "box" in predicate space): a
    * data file is read only if NO predicate proves it disjoint from the
    * file's recorded [min, max] on that column. On a single-column
    * clustered table only that column's predicate prunes; on a
    * Z-ORDERED table ([[Warehouse.zorderCommit]] — Morton-interleaved
    * sort keys) EVERY boxed dimension carries per-file locality, so the
    * predicates prune multiplicatively: the 2-D box that forces a
    * date-clustered table to read every file of the matching date range
    * touches O(1) files of the interleaved layout. Semantics are
    * identical to `read(...).filter(AND of betweens)` — pruning can
    * only drop files no surviving row lives in.
    */
  def scanBox(
      spark: SparkSession,
      tableDir: String,
      preds: Seq[(String, Any, Any)],
      version: Option[Int] = None): DataFrame = {
    require(preds.nonEmpty, "scanBox needs at least one predicate")
    val table = new Path(tableDir)
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no committed snapshot under $tableDir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val schema = schemaOf(lines)
    val st = statsOf(lines)
    def cmp(dt: Option[DataType])(a: String, b: String): Option[Int] = dt match {
      case Some(_: NumericType) =>
        try Some(new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)))
        catch { case _: NumberFormatException => None }
      case Some(StringType) | Some(DateType) => Some(a.compareTo(b))
      case _ => None
    }
    def keepOne(rel: String, colName: String, dt: Option[DataType],
        loS: String, hiS: String): Boolean =
      st.get((rel, colName)) match {
        case None => true // no stats recorded: must read
        case Some((n, _, _)) if n == 0L => false // all-null: BETWEEN drops it
        case Some((_, mn, mx)) =>
          // keep unless provably disjoint: max < lo or min > hi
          !(mx.flatMap(cmp(dt)(_, loS)).exists(_ < 0) ||
            mn.flatMap(cmp(dt)(_, hiS)).exists(_ > 0))
      }
    // (dt, loS, hiS) are constant per predicate — resolve them ONCE,
    // not per file × predicate (a thousand-file manifest would pay the
    // schema scan and boxing a thousand times over for nothing)
    val resolved = preds.map { case (c, lo, hi) =>
      (c, schema.flatMap(_.fields.find(_.name == c)).map(_.dataType),
        String.valueOf(lo), String.valueOf(hi))
    }
    def keep(rel: String): Boolean = resolved.forall { case (c, dt, loS, hiS) =>
      keepOne(rel, c, dt, loS, hiS)
    }
    val kept = fileLines(lines).filter(keep).map(rel => new Path(table, rel).toString)
    val base =
      if (kept.nonEmpty) schema match {
        case Some(s0) => spark.read.schema(s0).parquet(kept: _*)
        case None => spark.read.parquet(kept: _*)
      }
      else schema match {
        case Some(s0) => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s0)
        case None => throw new java.io.IOException(
          s"snapshot scanBox: version $v of $tableDir pruned to zero files " +
            "and has no schema header — pin a version with a recorded schema")
      }
    preds.foldLeft(base) { case (df, (c, lo, hi)) =>
      df.filter(col(c).between(lit(lo), lit(hi)))
    }
  }

  /** Expire history — the Iceberg expire-snapshots verb, and the
    * storage-reclamation half of the maintenance story: every
    * compaction writes a full rewrite, so without expiry a table's
    * footprint grows by one copy per compaction forever. Drops every
    * version older than the newest `keep` manifests and deletes the
    * data files no KEPT version references; kept versions are
    * untouched — their manifests keep naming the exact same files.
    * Returns (dropped versions, deleted file count).
    *
    * Ordering makes a crash safe, not atomic: manifests are deleted
    * BEFORE their now-unreferenced data files, so no surviving
    * manifest can ever name a deleted file; a crash mid-vacuum leaves
    * only orphan data files, which are invisible to every reader
    * (garbage, not corruption; files no manifest has ever referenced
    * are not reclaimed here, since vacuum deletes only what a dropped
    * manifest names). Same single-writer
    * assumption as [[commit]]; a reader pinned to a dropped version
    * loses it by design, so `keep` must cover the longest reader pin
    * window.
    */
  def vacuum(spark: SparkSession, tableDir: String, keep: Int): (Seq[Int], Int) = {
    require(keep >= 1, "vacuum must keep at least the latest version")
    val table = new Path(tableDir)
    val f = fs(spark, table)
    val vs = versions(spark, tableDir)
    val (drop, kept) = vs.splitAt(math.max(0, vs.size - keep))
    if (drop.isEmpty) (Seq.empty, 0)
    else {
      val keepFiles = kept.flatMap(v => fileLines(readManifest(spark, table, v))).toSet
      val dead = drop.flatMap(v => fileLines(readManifest(spark, table, v))).toSet -- keepFiles
      drop.foreach { v =>
        if (!f.delete(manifestPath(table, v), false))
          throw new java.io.IOException(s"vacuum: could not drop manifest v$v of $tableDir")
      }
      dead.foreach { rel =>
        val p = new Path(table, rel)
        if (f.exists(p) && !f.delete(p, false))
          throw new java.io.IOException(s"vacuum: could not delete $p")
      }
      (drop, dead.size)
    }
  }

  /** Restore version `v` as a NEW commit (history preserved — rollback
    * never deletes). Returns the new version number.
    */
  def rollback(spark: SparkSession, tableDir: String, v: Int): Int = {
    val table = new Path(tableDir)
    val vs = versions(spark, tableDir)
    require(vs.contains(v), s"version $v not in $vs")
    val next = vs.last + 1
    publish(fs(spark, table), manifestPath(table, next),
      readManifest(spark, table, v), "rollback")
    next
  }

  /** MERGE (upsert) as a snapshot commit — the Delta/Iceberg
    * copy-on-write MERGE INTO semantic: rows of `updates` replace
    * current rows sharing the same `keyCols` value; unmatched update
    * rows insert. One update row per key (enforced — a multi-match
    * MERGE is ambiguous, the same error the production formats raise).
    *
    * Scale shape — rewrite amplification is proportional to TOUCHED
    * FILES, not table size: a probe pass (updates' keys broadcast,
    * `_metadata.file_path` left-semi) finds which data files contain a
    * matched key; untouched files carry into the new manifest verbatim
    * (byte-for-byte shared, like an append), and only touched-file
    * survivors + update rows are rewritten. A point-update of one key
    * in a 10k-file table rewrites one file. The touched-file list is
    * driver-side METADATA (bounded by file count, the same scale class
    * as the manifest itself), not data collected to the driver.
    *
    * Same single-writer contract as [[commit]]; readers pinned to the
    * pre-merge version keep their exact files. Returns the new version.
    */
  def merge(
      updates: DataFrame,
      tableDir: String,
      keyCols: Seq[String]): Int = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val schema = tableSchema(updates.sparkSession, tableDir).getOrElse(updates.schema)
    require(updates.columns.sorted.sameElements(schema.fieldNames.sorted),
      s"merge: update columns ${updates.columns.toSeq} != table columns ${schema.fieldNames.toSeq}")
    // materialize once: updates feed the key probe AND the rewrite
    // union, and jobs get no exchange reuse
    val u = updates.localCheckpoint(true)
    require(
      u.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).isEmpty,
      "merge: updates carry duplicate keys — one row per key (multi-match MERGE is ambiguous)")
    rewriteByKeys(u.select(keyCols.map(col): _*), u, tableDir, keyCols, schema, "merge")
  }

  /** DELETE by key as a snapshot commit — same file-granular
    * copy-on-write machinery as [[merge]]: only files holding a listed
    * key are rewritten (without the deleted rows); everything else is
    * shared into the new manifest. Keys absent from the table are
    * no-ops, exactly like SQL DELETE. Returns the new version.
    */
  def delete(
      keys: DataFrame,
      tableDir: String,
      keyCols: Seq[String]): Int = {
    import org.apache.spark.sql.functions.col
    val spark = keys.sparkSession
    val schema = tableSchema(spark, tableDir).getOrElse(
      throw new java.io.IOException(s"delete: no committed snapshot under $tableDir"))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    rewriteByKeys(
      keys.select(keyCols.map(col): _*).distinct().localCheckpoint(true),
      empty, tableDir, keyCols, schema, "delete")
  }

  /** Keyed change-data-feed between two committed versions — the Delta
    * CDF / Iceberg changelog verb: every key inserted, deleted, or
    * updated (any non-key column differing, null-safe) between
    * `vFrom` and `vTo`, with the non-key columns exposed as
    * `old_<col>` / `new_<col>`. Unchanged keys are dropped. This is
    * what downstream consumers (incremental materialized views, cache
    * invalidation, audit) read instead of diffing full snapshots
    * themselves. Cost shape: one scan of each version and one keyed
    * full-outer join — proportional to the two versions, never to
    * history length; at warehouse scale both sides arrive
    * partition-pruned by the same manifest machinery as any read.
    */
  def diff(
      spark: SparkSession,
      tableDir: String,
      vFrom: Int,
      vTo: Int,
      keys: Seq[String]): DataFrame = {
    val from = read(spark, tableDir, Some(vFrom))
    val to = read(spark, tableDir, Some(vTo))
    // compare over the UNION of both versions' schemas — commit()
    // supports add-column evolution, so a column present on only one
    // side must still participate (null-filled on the side lacking it):
    // deriving nonKeys from vFrom alone would silently drop an update
    // that only touches a vTo-added column, and a column removed by a
    // replace would make vTo's select throw
    val fromCols = from.columns.toSeq
    val nonKeys =
      (fromCols ++ to.columns.toSeq.filterNot(fromCols.contains)).filterNot(keys.contains)
    def dtOf(c: String) =
      from.schema.fields.find(_.name == c)
        .orElse(to.schema.fields.find(_.name == c)).get.dataType
    keys.foreach { k =>
      require(fromCols.contains(k) && to.columns.contains(k),
        s"diff key column '$k' must exist in both versions $vFrom and $vTo")
    }
    // a column present in BOTH versions with a CHANGED type would hit
    // the old_c <=> new_c compare through implicit coercion — an
    // AnalysisException for incompatible types, silent value coercion
    // otherwise; neither is a diff. Refuse explicitly instead.
    (keys ++ nonKeys).foreach { c =>
      (from.schema.fields.find(_.name == c), to.schema.fields.find(_.name == c)) match {
        case (Some(f), Some(t)) =>
          require(f.dataType == t.dataType,
            s"diff: column '$c' changed type between v$vFrom (${f.dataType.simpleString}) " +
              s"and v$vTo (${t.dataType.simpleString}) — type evolution is not supported " +
              "by diff; read the versions separately and cast explicitly")
        case _ => ()
      }
    }
    def side(df: DataFrame, tag: String) = {
      val present = df.columns.toSet
      df.select(
        keys.map(col) ++ (lit(1).as(s"__$tag") +:
          nonKeys.map(c =>
            (if (present(c)) col(c) else lit(null).cast(dtOf(c))).as(s"${tag}_$c"))): _*)
    }
    val j = side(from, "old").join(side(to, "new"), keys, "full_outer")
    val changed = nonKeys
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    j.withColumn(
        "change_type",
        when(col("__old").isNull, "insert")
          .when(col("__new").isNull, "delete")
          .when(changed, "update"))
      .filter(col("change_type").isNotNull)
      .drop("__old", "__new")
  }

  private def tableSchema(spark: SparkSession, tableDir: String): Option[StructType] = {
    val prev = versions(spark, tableDir)
    require(prev.nonEmpty, s"no committed snapshot under $tableDir")
    schemaOf(readManifest(spark, new Path(tableDir), prev.last))
  }

  /** Shared copy-on-write core of [[merge]] and [[delete]]: rewrite
    * every data file holding one of `affectedKeys` — its surviving rows
    * (anti-join on the keys) plus all `replacements` — and carry every
    * other file into the new manifest verbatim. The touched-file list
    * is driver-side METADATA (bounded by file count, the same scale
    * class as the manifest itself), not data collected to the driver.
    */
  private def rewriteByKeys(
      affectedKeys: DataFrame,
      replacements: DataFrame,
      tableDir: String,
      keyCols: Seq[String],
      schema: StructType,
      op: String): Int = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(keyCols.nonEmpty, s"$op needs at least one key column")
    val spark = affectedKeys.sparkSession
    val table = new Path(tableDir)
    val f = fs(spark, table)
    val prev = versions(spark, tableDir)
    require(prev.nonEmpty, s"$op: no committed snapshot under $tableDir")
    val manifest = readManifest(spark, table, prev.last)
    // probe: which current data files hold an affected key (file paths
    // only — metadata-scale driver result)
    val touchedAbs = read(spark, tableDir)
      .select((keyCols.map(col) :+ col("_metadata.file_path").as("_sn_path")): _*)
      .join(broadcast(affectedKeys), keyCols, "left_semi")
      .select(col("_sn_path")).distinct()
      .collect().map(_.getString(0)).toSet
    val (touched, kept) =
      fileLines(manifest).partition(rel => touchedAbs.exists(_.endsWith("/" + rel)))
    // pin the table schema on the touched-file read: files written
    // before an add-column evolution lack the new columns, and an
    // unpinned read would resolve to whichever file's footer wins —
    // the pinned read null-fills them exactly like [[read]] does
    val rewritten =
      if (touched.isEmpty) replacements
      else spark.read
        .schema(schema)
        .parquet(touched.map(rel => new Path(table, rel).toString): _*)
        .join(broadcast(affectedKeys), keyCols, "left_anti")
        .unionByName(replacements)
    val batch = java.util.UUID.randomUUID.toString.replace("-", "")
    val dataPath = new Path(new Path(table, DataDir), batch)
    rewritten.write.parquet(dataPath.toString)
    val newFiles = f.listStatus(dataPath).toSeq
      .map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(p => s"$DataDir/$batch/${p.getName}")
      .sorted
    val header = (SchemaPrefix + schema.json) +:
      carriedMeta(spark, tableDir, prev, Map.empty)
        .toSeq.sorted.map { case (k, mv) => s"$MetaPrefix$k=$mv" }
    // zone maps of UNTOUCHED files stay valid — carry them; the
    // rewritten files get none (fallback = always read, never wrong)
    val keptSet = kept.toSet
    val keptStats = manifest.filter(l =>
      l.startsWith(StatsPrefix) &&
        keptSet(l.stripPrefix(StatsPrefix).takeWhile(_ != '\t')))
    val v = prev.last + 1
    publish(f, manifestPath(table, v), header ++ keptStats ++ kept ++ newFiles, op)
    v
  }
}
