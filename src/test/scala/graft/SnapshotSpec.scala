package graft

import graft.operators.Snapshots
import org.apache.spark.sql.functions._

/** Snapshot versioning invariants: append shares files instead of
  * rewriting, every commit is atomic at the manifest rename, old
  * versions stay readable forever, and rollback is itself a commit.
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def newTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap").resolve("t").toString

  test("append commits share prior data files; every version stays readable") {
    val dir = newTable()
    val v1 = Snapshots.commit((1 to 100).toDF("id"), dir)
    val v2 = Snapshots.commit((101 to 150).toDF("id"), dir)
    assert((v1, v2) == (1, 2))
    assert(Snapshots.read(spark, dir).count() == 150) // latest
    assert(Snapshots.read(spark, dir, Some(1)).count() == 100) // time travel
    assert(Snapshots.read(spark, dir, Some(2)).count() == 150)
    // replace starts a fresh file list but deletes nothing
    val v3 = Snapshots.commit((1 to 20).toDF("id"), dir, replace = true)
    assert(v3 == 3)
    assert(Snapshots.read(spark, dir).count() == 20)
    assert(Snapshots.read(spark, dir, Some(1)).count() == 100,
      "replace must not destroy history")
    assert(Snapshots.read(spark, dir, Some(2)).count() == 150)
  }

  test("optimistic concurrency: stale expected version is refused before any write") {
    val dir = newTable()
    Snapshots.commit((1 to 10).toDF("id"), dir)
    // a writer that read v1 commits fine against expected = 1
    Snapshots.commit((11 to 20).toDF("id"), dir, expected = Some(1))
    // a writer still holding v1 must be refused — the table moved to v2
    val e = intercept[graft.operators.ConcurrentSnapshotException] {
      Snapshots.commit((21 to 30).toDF("id"), dir, expected = Some(1))
    }
    assert(e.getMessage.contains("expected version 1"))
    assert(Snapshots.versions(spark, dir) == Seq(1, 2), "the refused commit must publish nothing")
    assert(Snapshots.read(spark, dir).count() == 20)
  }

  test("racing committers: one clean winner per version, no lost updates") {
    val dir = newTable()
    Snapshots.commit(Seq(0).toDF("id"), dir)
    val perWriter = 4
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def writer(base: Int): java.util.concurrent.Future[Seq[Int]] =
      pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
        def call(): Seq[Int] = {
          start.await()
          (1 to perWriter).map(i => Snapshots.commitWithRetry(Seq(base + i).toDF("id"), dir))
        }
      })
    val (a, b) = (writer(100), writer(200))
    start.countDown()
    val (va, vb) = (a.get(), b.get())
    pool.shutdown()
    // every commit won a DISTINCT version — the atomic put-if-absent
    // publish means a loser retries on top instead of clobbering
    val versions = va ++ vb
    assert(versions.distinct.size == versions.size, s"version collision: $va / $vb")
    assert(Snapshots.versions(spark, dir) == (1 to 2 * perWriter + 1),
      "every version must be published exactly once")
    // and the latest version holds every writer's row — nothing lost
    val ids = Snapshots.read(spark, dir).collect().map(_.getInt(0)).toSet
    assert(ids == (Set(0) ++ (1 to perWriter).map(100 + _) ++ (1 to perWriter).map(200 + _)),
      s"lost update: $ids")
  }

  test("append writes only the delta: v2's manifest reuses v1's files byte-for-byte") {
    val dir = newTable()
    Snapshots.commit((1 to 100).toDF("id"), dir)
    val dataDir = java.nio.file.Paths.get(dir, "data")
    def allDataFiles() = java.nio.file.Files.walk(dataDir).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p -> java.nio.file.Files.getLastModifiedTime(p))
      .toMap
    val before = allDataFiles()
    Snapshots.commit((101 to 150).toDF("id"), dir)
    val after = allDataFiles()
    // v1's physical files are untouched (same path, same mtime): the
    // append rewrote NOTHING — the property that makes commits O(delta)
    before.foreach { case (p, t) =>
      assert(after.get(p).contains(t), s"append must not rewrite $p")
    }
    assert(after.size > before.size, "append must add new files")
  }

  test("rollback restores content as a new version; history intact") {
    val dir = newTable()
    Snapshots.commit(Seq(("a", 1)).toDF("k", "v"), dir)
    Snapshots.commit(Seq(("b", 2)).toDF("k", "v"), dir, replace = true)
    val v3 = Snapshots.rollback(spark, dir, 1)
    assert(v3 == 3)
    assert(Snapshots.versions(spark, dir) == Seq(1, 2, 3))
    val restored = Snapshots.read(spark, dir).collect().map(_.getString(0)).toSeq
    assert(restored == Seq("a"), "rollback target content must be live again")
    assert(Snapshots.read(spark, dir, Some(2)).collect().head.getString(0) == "b",
      "the rolled-back-over version must remain readable")
  }

  test("a crashed commit (leftover .tmp manifest) is invisible to readers") {
    val dir = newTable()
    Snapshots.commit((1 to 10).toDF("id"), dir)
    // simulate a crash between temp-write and rename
    val stale = java.nio.file.Paths.get(dir, "_manifests", "v00002.manifest.tmp")
    java.nio.file.Files.write(stale, "data/garbage/deadbeef.parquet\n".getBytes)
    assert(Snapshots.versions(spark, dir) == Seq(1), "tmp manifest must be ignored")
    assert(Snapshots.read(spark, dir).count() == 10)
    // and the next commit proceeds normally past the debris
    assert(Snapshots.commit((11 to 12).toDF("id"), dir) == 2)
    assert(Snapshots.read(spark, dir).count() == 12)
  }

  test("an empty commit stays readable: the manifest's schema header backs a zero-row frame") {
    val dir = newTable()
    val empty = Seq((1L, "x")).toDF("id", "tag").filter(col("id") < 0)
    val v1 = Snapshots.commit(empty, dir)
    assert(v1 == 1)
    val out = Snapshots.read(spark, dir)
    assert(out.count() == 0, "empty version must read as zero rows, not fail")
    assert(out.schema.fieldNames.toSeq == Seq("id", "tag"),
      "schema must come from the manifest header")
    // appending onto an empty version works, and rolling back to the
    // empty version re-publishes its schema header (rollback copies
    // manifest lines verbatim, metadata included)
    Snapshots.commit(Seq((2L, "y")).toDF("id", "tag"), dir)
    assert(Snapshots.read(spark, dir).count() == 1)
    val v3 = Snapshots.rollback(spark, dir, v1)
    val restored = Snapshots.read(spark, dir, Some(v3))
    assert(restored.count() == 0 && restored.schema.fieldNames.toSeq == Seq("id", "tag"))
  }

  test("compaction is a commit: pinned reads and rollback survive it") {
    val dir = newTable()
    Snapshots.commit((1 to 1000).toDF("id").repartition(8), dir)
    Snapshots.commit((1001 to 2000).toDF("id").repartition(8), dir)
    def sumAt(v: Option[Int]) =
      Snapshots.read(spark, dir, v).agg(sum(col("id"))).head().getLong(0)
    val fullSum = sumAt(None)
    val v2Files = Snapshots.files(spark, dir, Some(2)).map(_.toString)
    assert(v2Files.size >= 16, "fixture must actually be fragmented")
    val (v3, n) = operators.Warehouse.compactSnapshot(spark, dir, targetBytes = 1L << 40)
    assert(v3 == 3 && n == 1)
    assert(Snapshots.files(spark, dir).size == 1, "compaction must shrink the file count")
    assert(sumAt(None) == fullSum, "compaction must not change content")
    // the rewrite-commit property: version 2 still lists the exact
    // same physical files and reads the exact same rows as before
    assert(Snapshots.files(spark, dir, Some(2)).map(_.toString) == v2Files,
      "a pinned pre-compaction version must keep its original files")
    assert(sumAt(Some(2)) == fullSum)
    // rollback ACROSS the compaction is an ordinary commit
    val v4 = Snapshots.rollback(spark, dir, 1)
    assert(v4 == 4)
    assert(Snapshots.read(spark, dir).count() == 1000)
    assert(sumAt(Some(3)) == fullSum, "the compacted version itself stays readable")
    // raw-directory maintenance must refuse a versioned table outright
    intercept[IllegalArgumentException] {
      operators.Warehouse.compact(spark, dir, targetBytes = 1024)
    }
    intercept[IllegalArgumentException] {
      operators.Warehouse.clusterWrite((1 to 5).toDF("id"), dir, "id", 1)
    }
  }

  test("clusterCommit publishes the clustered layout as a version, history intact") {
    val dir = newTable()
    Snapshots.commit(Seq((3L, "c"), (1L, "a")).toDF("id", "tag"), dir)
    val v2 = operators.Warehouse.clusterCommit(
      (1L to 100L).toDF("id").withColumn("tag", lit("x")), dir, "id", nFiles = 4)
    assert(v2 == 2)
    assert(Snapshots.files(spark, dir).size == 4, "one file per key range")
    assert(Snapshots.read(spark, dir).count() == 100)
    assert(Snapshots.read(spark, dir, Some(1)).count() == 2,
      "the pre-cluster version must survive the rewrite")
  }

  test("vacuum expires old versions and reclaims only unreferenced files") {
    val dir = newTable()
    Snapshots.commit((1 to 100).toDF("id").repartition(4), dir) // v1
    Snapshots.commit((101 to 150).toDF("id"), dir) // v2 shares v1's files
    // a dropped version whose files a KEPT version still references
    // must delete NOTHING
    val (d1, n1) = Snapshots.vacuum(spark, dir, keep = 1)
    assert(d1 == Seq(1) && n1 == 0,
      "files shared into a kept manifest must survive the vacuum")
    assert(Snapshots.versions(spark, dir) == Seq(2))
    assert(Snapshots.read(spark, dir).count() == 150)
    // compaction then expiry: the rewrite's predecessors actually leave disk
    operators.Warehouse.compactSnapshot(spark, dir, targetBytes = 1L << 40) // v3
    Snapshots.commit((151 to 160).toDF("id"), dir) // v4
    val v2Files = Snapshots.files(spark, dir, Some(2)).map(_.toString)
    val v4Files = Snapshots.files(spark, dir, Some(4)).map(_.toString)
    val (d2, n2) = Snapshots.vacuum(spark, dir, keep = 2)
    assert(d2 == Seq(2) && n2 == v2Files.size,
      "every file only the dropped versions referenced must be deleted")
    assert(Snapshots.versions(spark, dir) == Seq(3, 4))
    assert(v2Files.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(
      new java.net.URI(p).getPath))), "dropped-only files must leave disk")
    assert(Snapshots.files(spark, dir, Some(4)).map(_.toString) == v4Files,
      "kept manifests must keep naming the exact same files")
    assert(Snapshots.read(spark, dir).count() == 160)
    assert(Snapshots.read(spark, dir, Some(3)).count() == 150)
    intercept[IllegalArgumentException] { Snapshots.read(spark, dir, Some(2)) }
    // keep window covering everything is a no-op; next commit continues
    // the version sequence past the dropped range
    assert(Snapshots.vacuum(spark, dir, keep = 10) == (Seq.empty, 0))
    assert(Snapshots.commit((161 to 162).toDF("id"), dir) == 5)
  }

  test("schema is stable across shared-file reads") {
    val dir = newTable()
    Snapshots.commit(Seq((1L, "x")).toDF("id", "tag"), dir)
    Snapshots.commit(Seq((2L, "y")).toDF("id", "tag"), dir)
    val out = Snapshots.read(spark, dir).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "x"), (2L, "y")))
  }

  test("merge upserts by key; untouched files are shared, not rewritten") {
    val dir = newTable()
    // two appends → (at least) two disjoint file sets: ids 1-100, 101-200
    Snapshots.commit((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "tag"), dir)
    Snapshots.commit((101 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "tag"), dir)
    val filesBefore = Snapshots.files(spark, dir).map(_.toString)
    // update two low ids, insert one new — only v1's files hold matches
    val v3 = Snapshots.merge(
      Seq((5L, "UP5"), (7L, "UP7"), (999L, "NEW")).toDF("id", "tag"), dir, Seq("id"))
    assert(v3 == 3)
    val out = Snapshots.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 201, "100 + 100 + 1 insert")
    assert(out(5L) == "UP5" && out(7L) == "UP7" && out(999L) == "NEW")
    assert(out(6L) == "v6" && out(150L) == "v150", "unmatched rows unchanged")
    // file-granular copy-on-write: every pre-merge file NOT holding a
    // matched key appears verbatim in the new manifest
    val filesAfter = Snapshots.files(spark, dir).map(_.toString).toSet
    val shared = filesBefore.filter(filesAfter.contains)
    assert(shared.nonEmpty, "merge must carry untouched files, not rewrite the table")
    // the pre-merge version is untouched (time travel across a merge)
    assert(Snapshots.read(spark, dir, Some(2)).filter(col("id") === 5L)
      .head().getString(1) == "v5")
  }

  test("insert-only merge rewrites nothing: all prior files carry over") {
    val dir = newTable()
    Snapshots.commit((1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "tag"), dir)
    val before = Snapshots.files(spark, dir).map(_.toString).toSet
    Snapshots.merge(Seq((1000L, "NEW")).toDF("id", "tag"), dir, Seq("id"))
    val after = Snapshots.files(spark, dir).map(_.toString).toSet
    assert(before.subsetOf(after), "no key matched — no file may be rewritten")
    assert(Snapshots.read(spark, dir).count() == 51)
  }

  test("add-column evolution: appends may widen, old files null-fill, pinned versions keep their schema") {
    val dir = newTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "tag"), dir)
    // widen with a score column: allowed, recorded nullable
    Snapshots.commit(Seq((2L, "b", 0.5)).toDF("id", "tag", "score"), dir)
    val latest = Snapshots.read(spark, dir)
    assert(latest.schema.fieldNames.toSeq == Seq("id", "tag", "score"))
    val byId = latest.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(2), "pre-evolution row must null-fill the added column")
    assert(byId(2L).getDouble(2) == 0.5)
    // a reader pinned to v1 sees v1's schema, not the widened one
    assert(Snapshots.read(spark, dir, Some(1)).schema.fieldNames.toSeq == Seq("id", "tag"))
    // dropping or retyping an existing column is refused on append
    intercept[IllegalArgumentException] {
      Snapshots.commit(Seq(3L).toDF("id"), dir)
    }
    intercept[IllegalArgumentException] {
      Snapshots.commit(Seq((4L, 9, 0.1)).toDF("id", "tag", "score"), dir)
    }
    // replace may change schema freely (it starts a fresh file list)
    Snapshots.commit(Seq(5).toDF("n"), dir, replace = true)
    assert(Snapshots.read(spark, dir).schema.fieldNames.toSeq == Seq("n"))
  }

  test("merge and delete after add-column evolution: matched keys in pre-evolution files rewrite with null-fill") {
    val dir = newTable()
    // v1: pre-evolution files (no score column) hold keys 1-3
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"), dir)
    // v2: add-column evolution
    Snapshots.commit(Seq((4L, "d", 0.4)).toDF("id", "tag", "score"), dir)
    // merge touches key 2 — it lives in a PRE-evolution file, so the
    // rewrite must read that file with the pinned (evolved) schema and
    // null-fill score for the surviving rows 1 and 3
    Snapshots.merge(Seq((2L, "B2", 0.2)).toDF("id", "tag", "score"), dir, Seq("id"))
    val rows = Snapshots.read(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(rows == Map(
      1L -> (("a", None)), 2L -> (("B2", Some(0.2))),
      3L -> (("c", None)), 4L -> (("d", Some(0.4)))),
      s"merge-after-evolution state wrong: $rows")
    // delete a key from another pre-evolution file: survivors keep the
    // evolved schema, nothing resurrects the narrow one
    Snapshots.delete(Seq(Tuple1(1L)).toDF("id"), dir, Seq("id"))
    val after = Snapshots.read(spark, dir)
    assert(after.schema.fieldNames.toSeq == Seq("id", "tag", "score"))
    assert(after.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L, 4L))
  }

  test("stream high-water mark survives maintenance commits and vacuum: no double-delivery window") {
    import graft.streaming.SnapshotSink
    val dir = newTable()
    // two delivered micro-batches, then maintenance rewrites with no
    // batch id of their own (compaction-style replace + a merge)
    assert(SnapshotSink.appendOnce(Seq((1L, "a")).toDF("id", "tag"), dir, 0L))
    assert(SnapshotSink.appendOnce(Seq((2L, "b")).toDF("id", "tag"), dir, 1L))
    Snapshots.commit(Snapshots.read(spark, dir).repartition(1), dir, replace = true)
    Snapshots.merge(Seq((1L, "a2")).toDF("id", "tag"), dir, Seq("id"))
    assert(SnapshotSink.lastBatchId(spark, dir).contains(1L),
      "maintenance commits must carry the stream batch id forward")
    // vacuum drops every manifest the sink wrote itself — the carried
    // mark on the kept maintenance manifest must still position replay
    val (dropped, _) = Snapshots.vacuum(spark, dir, keep = 1)
    assert(dropped.nonEmpty)
    assert(SnapshotSink.lastBatchId(spark, dir).contains(1L),
      "vacuum erased the high-water mark — a restarted stream would double-deliver")
    assert(!SnapshotSink.appendOnce(Seq((2L, "b")).toDF("id", "tag"), dir, 1L),
      "a re-delivered batch must still be recognized after vacuum")
    // a NEW batch advances the mark as before
    assert(SnapshotSink.appendOnce(Seq((3L, "c")).toDF("id", "tag"), dir, 2L))
    assert(SnapshotSink.lastBatchId(spark, dir).contains(2L))
    // repurposing the table for a NEW stream (fresh checkpoint, ids
    // restart at 0): without an explicit reset the sticky mark would
    // swallow the new stream's first batches as re-deliveries
    assert(!SnapshotSink.appendOnce(Seq((9L, "z")).toDF("id", "tag"), dir, 0L),
      "fixture: a fresh stream's batch 0 is rejected pre-reset")
    SnapshotSink.resetDelivery(spark, dir)
    assert(SnapshotSink.lastBatchId(spark, dir).isEmpty, "reset must clear the mark")
    // the cleared mark is itself sticky: maintenance after the reset
    // must not resurrect the old high-water value
    Snapshots.commit(Snapshots.read(spark, dir).repartition(1), dir, replace = true)
    assert(SnapshotSink.lastBatchId(spark, dir).isEmpty)
    assert(SnapshotSink.appendOnce(Seq((9L, "z")).toDF("id", "tag"), dir, 0L),
      "the new stream's batch 0 must land after the reset")
    assert(SnapshotSink.lastBatchId(spark, dir).contains(0L))
  }

  test("merge refuses duplicate update keys and mismatched columns") {
    val dir = newTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "tag"), dir)
    intercept[IllegalArgumentException] {
      Snapshots.merge(Seq((2L, "x"), (2L, "y")).toDF("id", "tag"), dir, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.merge(Seq((2L, "x")).toDF("id", "other"), dir, Seq("id"))
    }
  }

  test("zone maps: a range-clustered table prunes files at the manifest, results unchanged") {
    val dir = newTable()
    // 4 disjoint key ranges -> 4 files with non-overlapping [min, max]
    val df = (1 to 1000).toDF("k").withColumn("payload", $"k" * 2)
      .repartitionByRange(4, $"k").sortWithinPartitions("k")
    Snapshots.commit(df, dir, statsCols = Seq("k"))
    val full = Snapshots.files(spark, dir).size
    assert(full == 4, s"expected 4 clustered files, got $full")
    val pruned = Snapshots.scanRange(spark, dir, "k", 10, 20)
    // the narrow predicate must touch exactly one file
    assert(pruned.inputFiles.length == 1,
      s"zone maps must prune to 1 of 4 files, scanned ${pruned.inputFiles.length}")
    // and be semantically identical to the unpruned filter
    val expected = Snapshots.read(spark, dir)
      .filter($"k".between(10, 20)).collect().map(_.getInt(0)).sorted.toSeq
    assert(pruned.collect().map(_.getInt(0)).sorted.toSeq == expected)
    // a provably-empty range scans ZERO files but keeps the schema
    val none = Snapshots.scanRange(spark, dir, "k", 5000, 6000)
    assert(none.inputFiles.isEmpty && none.count() == 0)
    assert(none.schema.fieldNames.toSeq == Seq("k", "payload"))
  }

  test("zone maps: stats-less files are always read; all-null files are skipped; appends carry stats") {
    val dir = newTable()
    val clustered = (1 to 100).toDF("k").repartitionByRange(2, $"k").sortWithinPartitions("k")
    Snapshots.commit(clustered, dir, statsCols = Seq("k"))
    // append WITHOUT stats: its files must never be pruned
    Snapshots.commit((200 to 210).toDF("k").coalesce(1), dir)
    val scan = Snapshots.scanRange(spark, dir, "k", 1, 10)
    assert(scan.inputFiles.length == 2,
      s"1 stats-pruned survivor + 1 stats-less file, got ${scan.inputFiles.length}")
    assert(scan.collect().map(_.getInt(0)).sorted.toSeq == (1 to 10))
    // append an all-null file WITH stats: BETWEEN can never select it
    Snapshots.commit(Seq[Option[Int]](None, None).toDF("k").coalesce(1), dir,
      statsCols = Seq("k"))
    val scan2 = Snapshots.scanRange(spark, dir, "k", 1, 10)
    assert(scan2.inputFiles.length == 2, "an all-null file must be skipped")
    // stats survive an append: the v1 files still prune under v3
    assert(Snapshots.scanRange(spark, dir, "k", 60, 70).inputFiles.length == 2)
  }

  test("zone maps: merge keeps untouched files' stats, rewritten files fall back to always-read") {
    val dir = newTable()
    val df = (1 to 100).toDF("k").withColumn("v", lit("a"))
      .repartitionByRange(4, $"k").sortWithinPartitions("k")
    Snapshots.commit(df, dir, statsCols = Seq("k"))
    // merge touches only the file holding k = 3
    Snapshots.merge(Seq(3).toDF("k").withColumn("v", lit("b")), dir, Seq("k"))
    // a range fully inside an UNTOUCHED file's key span still prunes:
    // survivors = that file + the stats-less rewrite output
    val scan = Snapshots.scanRange(spark, dir, "k", 60, 65)
    assert(scan.inputFiles.length < Snapshots.files(spark, dir).size,
      "untouched files' zone maps must survive a merge")
    val got = scan.collect().map(_.getInt(0)).sorted.toSeq
    assert(got == (60 to 65))
  }

  test("scanBox: predicates prune independently; a stats-less column never prunes; results unchanged") {
    val dir = newTable()
    val df = (1 to 1000).toDF("k")
      .withColumn("j", $"k" % 7)
      .withColumn("payload", $"k" * 2)
      .repartitionByRange(4, $"k").sortWithinPartitions("k")
    // stats on k only: the j predicate must fall back to read-everything
    Snapshots.commit(df, dir, statsCols = Seq("k"))
    val box = Snapshots.scanBox(spark, dir, Seq(("k", 10, 20), ("j", 0, 2)))
    assert(box.inputFiles.length == 1,
      s"the k half of the box must still prune to 1 of 4 files, got ${box.inputFiles.length}")
    val expected = Snapshots.read(spark, dir)
      .filter($"k".between(10, 20) && $"j".between(0, 2))
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(box.collect().map(_.getInt(0)).sorted.toSeq == expected,
      "scanBox must equal the residual conjunction filter")
    // any provably-disjoint predicate empties the scan before tasks launch
    val none = Snapshots.scanBox(spark, dir, Seq(("k", 5000, 6000), ("j", 0, 2)))
    assert(none.inputFiles.isEmpty && none.count() == 0)
  }

  test("z-order: the interleaved layout prunes the secondary dimension; 1-D clustering cannot") {
    val d = "/root/testdata/sf0.001"
    val fact = Tables.lineitem(spark, d).select(
      col("l_orderkey"), col("l_partkey"), col("l_quantity"),
      to_date(col("l_shipdate")).as("ship_date"))
    // the 1-D twin records part-key stats too — recording stats is not
    // enough, the LAYOUT must localize the key for them to prune
    val oneD = newTable()
    operators.Warehouse.clusterCommit(fact, oneD, "ship_date", 16,
      statsCols = Seq("ship_date", "l_partkey"))
    val zd = newTable()
    operators.Warehouse.zorderCommit(fact, zd,
      datediff(col("ship_date"), lit("1970-01-01")), col("l_partkey"),
      nFiles = 16, statsCols = Seq("ship_date", "l_partkey"))
    val partPred = ("l_partkey", Long.box(1L), Long.box(50L))
    val wideDate = ("ship_date",
      java.sql.Date.valueOf("1990-01-01"), java.sql.Date.valueOf("2000-12-31"))
    val midDate = ("ship_date",
      java.sql.Date.valueOf("1995-01-01"), java.sql.Date.valueOf("1996-12-31"))
    // part-key-only box (date unbounded): every date-clustered file
    // spans ~the whole part-key domain, so it reads ~everything
    // (observed 15 of 16 — one boundary file pruned by luck); the
    // z-layout localizes the key into the b-quadrant's cells (observed
    // 8 of 16 — each of the 4 a-quadrant segments straddles a file
    // boundary; the ratio sharpens as file count grows)
    val oneDPart = Snapshots.scanBox(spark, oneD, Seq(wideDate, partPred))
    val zPart = Snapshots.scanBox(spark, zd, Seq(wideDate, partPred))
    assert(oneDPart.inputFiles.length >= 12,
      s"1-D date clustering shouldn't localize part keys, scanned ${oneDPart.inputFiles.length}")
    assert(zPart.inputFiles.length <= 10,
      s"z-order must localize the part-key quadrant, scanned ${zPart.inputFiles.length} of 16")
    // the full 2-D box prunes on both dimensions (observed 4 of 16)
    val zBox = Snapshots.scanBox(spark, zd, Seq(midDate, partPred))
    assert(zBox.inputFiles.length <= 6,
      s"2-D box on the z-layout: scanned ${zBox.inputFiles.length} of 16")
    // layout is a table property: both scans equal the plain filter
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] = df
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val plain = canon(fact.filter(
      col("ship_date").between(lit(java.sql.Date.valueOf("1995-01-01")),
        lit(java.sql.Date.valueOf("1996-12-31"))) &&
        col("l_partkey").between(1L, 50L)))
    assert(canon(zBox) == plain, "z-order pruning must never change an answer")
    assert(canon(Snapshots.scanBox(spark, oneD, Seq(midDate, partPred))) == plain)
  }

  test("diff: keyed CDF reports insert/delete/update, drops unchanged keys, null-safe compare") {
    val dir = newTable()
    Snapshots.commit(
      Seq((1L, Option("a")), (2L, Option("b")), (3L, Option.empty[String]), (4L, Option("d")))
        .toDF("id", "v"), dir)
    Snapshots.commit(
      Seq((2L, Option("B")), (3L, Option.empty[String]), (4L, Option("d")), (5L, Option("e")))
        .toDF("id", "v"), dir, replace = true)
    val rows = Snapshots.diff(spark, dir, 1, 2, Seq("id")).collect()
    val byId = rows.map(r => r.getLong(r.fieldIndex("id")) ->
      r.getString(r.fieldIndex("change_type"))).toMap
    // 3 (null <=> null) and 4 (equal) are unchanged — dropped
    assert(byId == Map(1L -> "delete", 2L -> "update", 5L -> "insert"), s"got $byId")
    val upd = rows.find(_.getLong(0) == 2L).get
    assert(upd.getString(upd.fieldIndex("old_v")) == "b")
    assert(upd.getString(upd.fieldIndex("new_v")) == "B")
    val ins = rows.find(_.getLong(0) == 5L).get
    assert(ins.isNullAt(ins.fieldIndex("old_v")) && ins.getString(ins.fieldIndex("new_v")) == "e")
  }

  test("diff: schema evolution — added and removed columns participate in the compare") {
    val dir = newTable()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    // v2 adds column w; row 1's ONLY change is in the added column —
    // the round-14 shape silently dropped it (nonKeys derived from
    // vFrom alone), reporting the update as unchanged
    Snapshots.commit(
      Seq((1L, "a", Option("x")), (2L, "b", Option.empty[String]))
        .toDF("id", "v", "w"), dir, replace = true)
    val d12 = Snapshots.diff(spark, dir, 1, 2, Seq("id")).collect()
    val by12 = d12.map(r => r.getLong(r.fieldIndex("id")) ->
      r.getString(r.fieldIndex("change_type"))).toMap
    // row 2: v unchanged, w null on both sides (absent ≡ null) — dropped
    assert(by12 == Map(1L -> "update"), s"got $by12")
    val u = d12.head
    assert(u.isNullAt(u.fieldIndex("old_w")) && u.getString(u.fieldIndex("new_w")) == "x")
    assert(u.getString(u.fieldIndex("old_v")) == "a" &&
      u.getString(u.fieldIndex("new_v")) == "a")
    // v3 REMOVES v and w via replace; the round-14 shape threw on the
    // vTo select — now removed columns null-fill and report as updates
    Snapshots.commit(Seq(Tuple1(1L)).toDF("id"), dir, replace = true)
    val d23 = Snapshots.diff(spark, dir, 2, 3, Seq("id")).collect()
    val by23 = d23.map(r => r.getLong(r.fieldIndex("id")) ->
      r.getString(r.fieldIndex("change_type"))).toMap
    assert(by23 == Map(1L -> "update", 2L -> "delete"), s"got $by23")
    val g = d23.find(_.getLong(0) == 1L).get
    assert(g.getString(g.fieldIndex("old_v")) == "a" && g.isNullAt(g.fieldIndex("new_v")))
  }

  test("z-order: null sort keys land in bin 0, never the max-key quadrant; answers intact") {
    val dir = newTable()
    // the null-keyed rows carry LOW b so their z-position is decided by
    // the null bin alone: with the explicit coalesce they sort with the
    // low quadrant; under least()'s null-skip they'd take k-bin 65535
    // and jump to the max-key file despite their low b
    val df = Seq(
      (1L, Option(10L), 100L), (2L, Option(20L), 200L), (3L, Option.empty[Long], 110L),
      (4L, Option(30L), 400L), (5L, Option.empty[Long], 120L), (6L, Option(40L), 600L))
      .toDF("id", "k", "b")
    operators.Warehouse.zorderCommit(df, dir, col("k"), col("b"),
      nFiles = 3, statsCols = Seq("k", "b"))
    // results: pruning must never change an answer, null keys included
    val all = Snapshots.read(spark, dir).collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // layout: null-keyed rows sort with the LOW quadrant (bin 0), so the
    // file holding the max-key row must not contain them — without the
    // explicit coalesce, least()'s null-skip sent nulls to bin 65535
    val files = Snapshots.files(spark, dir)
    def idsOf(f: org.apache.hadoop.fs.Path) = spark.read.parquet(f.toString)
      .select("id").collect().map(_.getLong(0)).toSet
    val withMax = files.map(idsOf).find(_.contains(6L)).get
    assert(!withMax.contains(3L) && !withMax.contains(5L),
      s"null-keyed rows clustered with the max-key quadrant: $withMax")
    val box = Snapshots.scanBox(spark, dir, Seq(("k", 10L, 20L)))
      .collect().map(_.getLong(0)).toSet
    assert(box == Set(1L, 2L), s"box over the null-carrying table wrong: $box")
  }

  test("z-order append lifecycle: era-disjoint boxes read only their era's files; history intact") {
    val d = "/root/testdata/sf0.001"
    val dir = operators.Warehouse.zorderLifecycleFact(spark, d)
    assert(operators.Warehouse.zorderLifecycleFact(spark, d) == dir,
      "the lifecycle snapshot must be memoized per dataset")
    val total = Snapshots.files(spark, dir).size
    assert(total >= 13 && total <= 16, s"12 standing + 4 appended files, got $total")
    // a delta-era box prunes EVERY standing file (their ship_date max
    // ends at 1996) — pruning composes across commits
    val delta = Snapshots.scanBox(spark, dir, Seq(("ship_date",
      java.sql.Date.valueOf("1997-01-01"), java.sql.Date.valueOf("1998-12-31"))))
    assert(delta.inputFiles.length <= 4,
      s"a delta-era box must read only appended files: ${delta.inputFiles.length}")
    assert(delta.count() > 0)
    // a standing-era box prunes every delta file and still localizes
    // the date inside the standing z-layout
    val standing = Snapshots.scanBox(spark, dir, Seq(("ship_date",
      java.sql.Date.valueOf("1995-01-01"), java.sql.Date.valueOf("1995-12-31"))))
    assert(standing.inputFiles.length <= 8,
      s"a standing-era box reads a strict standing subset: ${standing.inputFiles.length}")
    // the append never rewrote shipped data: v1 is still the standing era
    val v1Max = Snapshots.read(spark, dir, Some(1))
      .agg(max(col("ship_date"))).head().getDate(0).toString
    assert(v1Max <= "1996-12-31", s"v1 must predate the delta, max ship_date $v1Max")
  }

  test("q154's clustered fact layout prunes a 3-month range to a strict file subset") {
    val dir = newTable()
    val fact = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_orderkey"), col("l_quantity"),
        to_date(col("l_shipdate")).as("ship_date"))
    operators.Warehouse.clusterCommit(fact, dir, "ship_date", 16,
      statsCols = Seq("ship_date"))
    val pr = Snapshots.scanRange(spark, dir, "ship_date",
      java.sql.Date.valueOf("1995-02-01"), java.sql.Date.valueOf("1995-04-30"))
    val total = Snapshots.files(spark, dir).size
    assert(pr.inputFiles.length < total,
      s"3 months of a ~7-year span must prune: ${pr.inputFiles.length} of $total files")
    assert(pr.inputFiles.length <= 2,
      s"a clustered 16-file layout should localize the range to <=2 files, got ${pr.inputFiles.length}")
    assert(pr.count() > 0)
  }

  test("q158: the headline filter-project reads a strict file subset of the shared snapshot") {
    val d = "/root/testdata/sf0.001"
    // the SHARED clustered snapshot: built once per dataset (through
    // IndexStore), hit by both q154 and q158 — clustering is a table
    // property, not a per-query cost
    val dir = operators.Warehouse.shipDateClusteredFact(spark, d)
    assert(operators.Warehouse.shipDateClusteredFact(spark, d) == dir,
      "the clustered snapshot must be memoized per dataset")
    val total = Snapshots.files(spark, dir).size
    val scan = Snapshots.scanRange(spark, dir, "ship_date",
      java.sql.Date.valueOf("1995-02-01"), java.sql.Date.valueOf("1995-07-31"))
    assert(scan.inputFiles.length < total,
      s"6 months of a ~7-year span must prune: ${scan.inputFiles.length} of $total")
    assert(scan.inputFiles.length <= 3,
      s"a clustered 16-file layout localizes 6 months to <=3 files, got ${scan.inputFiles.length}")
    // file skipping must never change the answer the user sees.
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data,
    // so compare canonically — full-row sort, the driver-gate shape
    val got = SparkEntry.queries("q158_zonemap_filter_project")(spark, d)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val exp = Tables.lineitem(spark, d)
      .filter(to_date(col("l_shipdate")).between("1995-02-01", "1995-07-31")
        && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        to_date(col("l_shipdate")).as("ship_date"))
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(got == exp, "pruned scan must equal the full-table scan as a multiset")
    assert(got.nonEmpty)
  }
}
