package graft

/** Mechanics of the cross-JVM standing-index store: publish-once /
  * reuse, torn-build recovery, fingerprint staleness keying, and
  * age-gated pruning. Content correctness of the real indexes is
  * pinned separately (GraphSpec's index-served ≡ inline-built test
  * plus the oracle hash gate on every index-consuming query).
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  /** Run `body` with the store rooted at a throwaway dir. */
  private def withTempStore[A](body: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("ixs_").toString
    val prev = sys.props.get("graft.index.dir")
    sys.props("graft.index.dir") = tmp
    try body(tmp)
    finally prev match {
      case Some(p) => sys.props("graft.index.dir") = p
      case None    => sys.props.remove("graft.index.dir")
    }
  }

  /** A throwaway "dataset": a dir with one source file to fingerprint. */
  private def tempDataset(): String = {
    val d = java.nio.file.Files.createTempDirectory("ixd_")
    java.nio.file.Files.write(d.resolve("src.txt"), "v1".getBytes("UTF-8"))
    d.toString
  }

  test("resolve publishes once and reuses across resolves (the cross-JVM path)") {
    withTempStore { _ =>
      val d = tempDataset()
      var builds = 0
      def go() = IndexStore.resolve(spark, "t_reuse", 1, d, Seq("src.txt")) { dirOf =>
        builds += 1
        Map(
          "a" -> operators.Snapshots.commit(Seq((1L, 2L)).toDF("x", "y"),
            dirOf("a"), replace = true),
          "b" -> operators.Snapshots.commit(Seq((3L, 4L)).toDF("x", "y"),
            dirOf("b"), replace = true))
      }
      val first = go()
      // second resolve: IndexStore keeps no in-JVM memo, so this takes
      // exactly the sentinel-detection path a fresh process would take
      val second = go()
      assert(builds == 1, "published index must be reused, not rebuilt")
      assert(first == second, "reuse must return the same part dirs")
      assert(operators.Snapshots.read(spark, first("a")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
      // sentinel audit record pins parts and fingerprint
      val sent = first("a").stripSuffix("/a") + "/_publish"
      val vs = operators.Snapshots.versions(spark, sent)
      assert(vs.nonEmpty, "publish sentinel must exist")
      val meta = operators.Snapshots.meta(spark, sent, vs.last)
      assert(meta("parts") == "a,b")
      assert(meta.contains("fingerprint"))
    }
  }

  test("a sentinel committed by an earlier JVM is reused with zero builds") {
    withTempStore { root =>
      val d = tempDataset()
      val fp = IndexStore.fingerprint(d, Seq("src.txt"))
      val base = s"$root/t_earlier-v1/$fp"
      // an earlier JVM published part + sentinel; this JVM never built it
      val v = operators.Snapshots.commit(Seq((3L, 3L)).toDF("x", "y"),
        s"$base/a", replace = true)
      operators.Snapshots.commit(Seq(1).toDF("published"), s"$base/_publish",
        replace = true, meta = Map("parts" -> "a", "fingerprint" -> fp,
          "part_a" -> v.toString))
      var builds = 0
      val parts = IndexStore.resolve(spark, "t_earlier", 1, d, Seq("src.txt")) { dirOf =>
        builds += 1
        Map("a" -> operators.Snapshots.commit(Seq((0L, 0L)).toDF("x", "y"),
          dirOf("a"), replace = true))
      }
      assert(builds == 0, "a published sentinel must be reused, not rebuilt")
      assert(parts == Map("a" -> s"$base/a"))
      assert(operators.Snapshots.read(spark, parts("a")).collect()
        .map(_.getLong(0)).toSeq == Seq(3L))
    }
  }

  test("an index whose dir was removed since its publish is rebuilt, not served") {
    withTempStore { root =>
      val d = tempDataset()
      var builds = 0
      def go() = IndexStore.resolve(spark, "t_gone", 1, d, Seq("src.txt")) { dirOf =>
        builds += 1
        Map("a" -> operators.Snapshots.commit(Seq((1L, 0L)).toDF("x", "y"),
          dirOf("a"), replace = true))
      }
      go()
      // another JVM's prune (or an operator) removes the fp dir
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "t_gone-v1"))
      try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally walk.close()
      val parts = go()
      assert(builds == 2, "a removed index dir must be rebuilt, not served")
      assert(operators.Snapshots.read(spark, parts("a")).count() == 1)
    }
  }

  /** A throwaway dataset dir with a writable copy of sf0.001 documents. */
  private def documentsCopy(): String = {
    val d = java.nio.file.Files.createTempDirectory("ixdocs_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("sf0.001"), "documents.parquet"),
      d.resolve("documents.parquet"))
    d.toString
  }

  test("a dataset regenerated inside one JVM is resolved again") {
    withTempStore { _ =>
      val d = documentsCopy()
      val (first, _) = operators.Text.mixIndex(spark, d)
      // regenerate: same rows, new mtime (what the fingerprint sees)
      val f = java.nio.file.Paths.get(d, "documents.parquet")
      val mtime = java.nio.file.Files.getLastModifiedTime(f).toMillis
      java.nio.file.Files.write(f, java.nio.file.Files.readAllBytes(f))
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(mtime + 60000))
      val (second, _) = operators.Text.mixIndex(spark, d)
      assert(second != first, "a regenerated source must not be served the old index dir")
    }
  }

  test("Prebuild.force labels what IndexStore did: reused after an accessor publish") {
    withTempStore { _ =>
      val builder = Prebuild.all.toMap.apply("mix_index")
      val published = documentsCopy()
      operators.Text.mixIndex(spark, published)
      assert(Prebuild.force("mix_index", builder, spark, published) == "reused",
        "an artifact its accessor already published must be labelled reused")
      val fresh = documentsCopy()
      assert(Prebuild.force("mix_index", builder, spark, fresh) == "built")
      assert(Prebuild.force("mix_index", builder, spark, fresh) == "reused")
    }
  }

  test("a torn build (parts without sentinel) is rebuilt, not trusted") {
    withTempStore { root =>
      val d = tempDataset()
      val fp = IndexStore.fingerprint(d, Seq("src.txt"))
      // simulate a JVM that died between part commit and publish
      operators.Snapshots.commit(Seq((9L, 9L)).toDF("x", "y"),
        s"$root/t_torn-v1/$fp/a", replace = true)
      var builds = 0
      val parts = IndexStore.resolve(spark, "t_torn", 1, d, Seq("src.txt")) { dirOf =>
        builds += 1
        Map("a" -> operators.Snapshots.commit(Seq((1L, 1L)).toDF("x", "y"),
          dirOf("a"), replace = true))
      }
      assert(builds == 1, "no sentinel → must rebuild")
      assert(operators.Snapshots.read(spark, parts("a")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 1L)),
        "latest version must be the completed rebuild, not the torn remnant")
    }
  }

  test("staleness is keyed on the dataset fingerprint: a changed source rebuilds") {
    withTempStore { _ =>
      val d = tempDataset()
      var builds = 0
      def go() = IndexStore.resolve(spark, "t_stale", 1, d, Seq("src.txt")) { dirOf =>
        builds += 1
        Map("a" -> operators.Snapshots.commit(Seq((builds.toLong, 0L)).toDF("x", "y"),
          dirOf("a"), replace = true))
      }
      val first = go()
      // regenerate the dataset: size AND mtime change
      java.nio.file.Files.write(
        java.nio.file.Paths.get(d, "src.txt"), "v2-regen".getBytes("UTF-8"))
      val second = go()
      assert(builds == 2, "changed source must invalidate the published index")
      assert(first("a") != second("a"), "new fingerprint → new table dir")
      assert(operators.Snapshots.read(spark, second("a")).collect()
        .map(_.getLong(0)).toSeq == Seq(2L))
      // and the format version is part of the key too
      val third = IndexStore.resolve(spark, "t_stale", 2, d, Seq("src.txt")) { dirOf =>
        Map("a" -> operators.Snapshots.commit(Seq((99L, 0L)).toDF("x", "y"),
          dirOf("a"), replace = true))
      }
      assert(third("a") != second("a"), "formatVersion bump → new table dir")
    }
  }

  test("a publish-race LOSER degrades to reusing the winner's publish (no crash)") {
    withTempStore { root =>
      val d = tempDataset()
      val fp = IndexStore.fingerprint(d, Seq("src.txt"))
      val base = s"$root/t_loser-v1/$fp"
      // build callback plays the LOSER: a peer JVM (simulated inline)
      // fully publishes part+sentinel, then our part commit collides
      val parts = IndexStore.resolve(spark, "t_loser", 1, d, Seq("src.txt")) { dirOf =>
        // "peer" wins: commits the part and the sentinel
        val v = operators.Snapshots.commit(Seq((7L, 7L)).toDF("x", "y"),
          s"$base/a", replace = true)
        operators.Snapshots.commit(Seq(1).toDF("published"), s"$base/_publish",
          replace = true, meta = Map("parts" -> "a", "fingerprint" -> fp,
            "part_a" -> v.toString))
        // we lose our own commit (what Snapshots.publish throws when a
        // same-version manifest already exists)
        throw new operators.ConcurrentSnapshotException("lost the race (simulated)")
      }
      assert(parts == Map("a" -> s"$base/a"),
        "race loser must return the winner's published parts")
      assert(operators.Snapshots.read(spark, parts("a")).collect()
        .map(_.getLong(0)).toSeq == Seq(7L))
    }
  }

  test("two concurrent builders on a cold store both resolve a complete identical index") {
    withTempStore { root =>
      val d = tempDataset()
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val results = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, String]]()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def racer(id: Int): Thread = new Thread(() =>
        try {
          val r = IndexStore.resolve(spark, "t_race", 1, d, Seq("src.txt")) { dirOf =>
            gate.await(30, java.util.concurrent.TimeUnit.SECONDS) // both enter build
            val v = operators.Snapshots.commit(Seq((5L, 6L)).toDF("x", "y"),
              dirOf("snap"), replace = true)
            val plain = IndexStore.publishPlainDir(dirOf("plain")) { tmp =>
              Seq((8L, 9L)).toDF("x", "y").write.parquet(tmp)
            }
            assert(plain == dirOf("plain"))
            Map("snap" -> v, "plain" -> 0)
          }
          results.put(id, r)
        } catch { case t: Throwable => errs.add(t) })
      val ts = Seq(racer(1), racer(2))
      ts.foreach(_.start()); ts.foreach(_.join(120000))
      assert(errs.isEmpty, s"neither racer may crash: ${Option(errs.peek()).map(_.toString)}")
      assert(results.size == 2)
      assert(results.get(1) == results.get(2), "both must resolve the same part dirs")
      val r = results.get(1)
      // both parts complete and readable — no torn plain dir
      assert(operators.Snapshots.read(spark, r("snap")).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((5L, 6L)))
      assert(spark.read.parquet(r("plain")).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((8L, 9L)))
      assert(!java.nio.file.Files.list(java.nio.file.Paths.get(r("plain")).getParent)
        .iterator().asScala.exists(_.getFileName.toString.contains(".tmp-")),
        "no orphaned plain-dir temp may survive the race")
      // a sentinel exists and pins both parts
      val sent = r("snap").stripSuffix("/snap") + "/_publish"
      val vs = operators.Snapshots.versions(spark, sent)
      assert(vs.nonEmpty)
      assert(operators.Snapshots.meta(spark, sent, vs.last)("parts") == "plain,snap")
    }
  }

  test("pruning removes only STALE sibling fingerprints (age-gated)") {
    withTempStore { root =>
      val d = tempDataset()
      def go() = IndexStore.resolve(spark, "t_prune", 1, d, Seq("src.txt")) { dirOf =>
        Map("a" -> operators.Snapshots.commit(Seq((1L, 0L)).toDF("x", "y"),
          dirOf("a"), replace = true))
      }
      go()
      val live = java.nio.file.Paths.get(
        root, "t_prune-v1", IndexStore.fingerprint(d, Seq("src.txt")))
      // plant two sibling fingerprints: one fresh (a concurrently-live
      // session on another dataset), one aged past the 48 h gate
      val fresh = live.resolveSibling("fresh000fresh000")
      val stale = live.resolveSibling("stale000stale000")
      java.nio.file.Files.createDirectories(fresh)
      java.nio.file.Files.createDirectories(stale)
      java.nio.file.Files.setLastModifiedTime(stale,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 72L * 3600 * 1000))
      // force a republish on a NEW fingerprint so prune runs
      java.nio.file.Files.write(
        java.nio.file.Paths.get(d, "src.txt"), "v2".getBytes("UTF-8"))
      go()
      assert(java.nio.file.Files.exists(fresh), "fresh sibling must survive pruning")
      assert(!java.nio.file.Files.exists(stale), "stale sibling must be pruned")
    }
  }

  test("reuse refreshes the fp dir mtime so prune ages by last USE, not build time") {
    withTempStore { root =>
      val d = tempDataset()
      def go() = IndexStore.resolve(spark, "t_touch", 1, d, Seq("src.txt")) { dirOf =>
        Map("a" -> operators.Snapshots.commit(Seq((1L, 0L)).toDF("x", "y"),
          dirOf("a"), replace = true))
      }
      go()
      val fpDir = java.nio.file.Paths.get(
        root, "t_touch-v1", IndexStore.fingerprint(d, Seq("src.txt")))
      // simulate an old BUILD: backdate past the 48 h prune gate
      java.nio.file.Files.setLastModifiedTime(fpDir,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 72L * 3600 * 1000))
      go() // a reuse — must bump the mtime back to "now"
      val age = System.currentTimeMillis() -
        java.nio.file.Files.getLastModifiedTime(fpDir).toMillis
      assert(age < 3600 * 1000L,
        "reused resolve must refresh the fp dir mtime (prune gate = last use)")
    }
  }
}
