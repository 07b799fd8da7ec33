package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** The snapshot-commit protocol's contract (SURVEY §2.M):
  * atomic versioned commits via hard-link CAS, snapshot-isolated
  * reads, last-commit-wins under concurrency, time travel.
  */
class SnapshotCommitSpec extends SparkSpecBase {

  private def freshRoot(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_snapspec_$tag")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(p.toFile)
    }
    p.toString
  }

  test("commits are versioned 1..n and each version reads back exactly") {
    import spark.implicits._
    val root = freshRoot("seq")
    val v1 = SnapshotTable.commit(root, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val v2 = SnapshotTable.commit(root, Seq((1L, "a2")).toDF("k", "s"))
    assert((v1, v2) == (1L, 2L))
    assert(SnapshotTable.versions(root) == Seq(1L, 2L))
    // snapshot isolation: v1 unchanged after v2 committed
    assert(SnapshotTable.read(spark, root, Some(1L)).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // latest binds to max version
    assert(SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a2")))
  }

  test("concurrent committers serialize: distinct contiguous versions, last commit wins") {
    import spark.implicits._
    val root = freshRoot("conc")
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val futures = (1 to n).map { i =>
        pool.submit(new java.util.concurrent.Callable[(Int, Long)] {
          def call(): (Int, Long) = {
            val df = Seq((i.toLong, s"writer$i")).toDF("k", "who")
            gate.await()
            (i, SnapshotTable.commit(root, df))
          }
        })
      }
      gate.countDown()
      val byWriter = futures.map(_.get()).toMap // writer -> version claimed
      // every writer got a DISTINCT version; together exactly 1..n —
      // the CAS never lost or double-assigned a commit
      assert(byWriter.values.toSeq.sorted == (1L to n.toLong),
        s"versions claimed: $byWriter")
      assert(SnapshotTable.versions(root) == (1L to n.toLong))
      // last-commit-wins: the unqualified read binds to version n and
      // returns exactly the winning writer's rows
      val winner = byWriter.find(_._2 == n.toLong).get._1
      val latest = SnapshotTable.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(latest == Seq((winner.toLong, s"writer$winner")))
      // no torn manifest: every historical version parses and reads
      // back its own writer's single row (atomicity of the link CAS)
      byWriter.foreach { case (w, v) =>
        val rows = SnapshotTable.read(spark, root, Some(v)).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(rows == Seq((w.toLong, s"writer$w")), s"version $v torn: $rows")
      }
    } finally pool.shutdown()
  }

  test("table_time_travel reads v2 while the log is at v3") {
    val df = SparkEntry.queries("table_time_travel")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the v3 delete (% 9 = 0 removed) must be INVISIBLE at version 2:
    // v2 still contains multiples of 9 that were in v1 or the batch
    assert(rows.exists(_.getLong(0) % 9 == 0),
      "v2 read lost the %9 rows — the v3 delete leaked into time travel")
    // and the v2 merge must be VISIBLE: every %15 doc (in v1, updated
    // by the %5 batch) carries the +1000 bump vs the raw fixture
    val raw = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 15 === 0)
      .select(col("doc_id"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = rows.filter(_.getLong(0) % 15 == 0)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.nonEmpty && got.forall { case (k, v) => v == raw(k) + 1000L },
      "the v2 merge's n_chars bump is missing from the time-travel read")
  }

  test("append shares the parent's files and vacuum spares shared files") {
    import spark.implicits._
    val root = freshRoot("append")
    SnapshotTable.commit(root, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val v2 = SnapshotTable.append(root, Seq((3L, "c")).toDF("k", "s"))
    assert(v2 == 2L)
    // v2 = parent rows + delta, and it REFERENCES v1's files
    assert(SnapshotTable.read(spark, root).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val v1Files = SnapshotTable.manifestFiles(root, 1L).toSet
    assert(v1Files.subsetOf(SnapshotTable.manifestFiles(root, 2L).toSet))
    // vacuum to 1 version: v1's manifest goes, but its files are all
    // referenced by v2 — reference counting must spare every one
    val (mDel, fDel) = SnapshotTable.vacuum(root, 1)
    assert((mDel, fDel) == (1, 0))
    assert(SnapshotTable.versions(root) == Seq(2L))
    assert(v1Files.forall(f => java.nio.file.Files.exists(
      java.nio.file.Paths.get(f))))
    assert(SnapshotTable.read(spark, root).count() == 3L)
    intercept[IllegalArgumentException] {
      SnapshotTable.manifestFiles(root, 1L)
    }
  }

  test("vacuum deletes rewrite-orphaned files and keeps the table readable") {
    import spark.implicits._
    val root = freshRoot("vac")
    SnapshotTable.commit(root, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    SnapshotTable.commit(root, Seq((9L, "z")).toDF("k", "s")) // full rewrite
    val v1Files = SnapshotTable.manifestFiles(root, 1L)
    val (mDel, fDel) = SnapshotTable.vacuum(root, 1)
    assert(mDel == 1 && fDel == v1Files.length && fDel > 0)
    assert(v1Files.forall(f => !java.nio.file.Files.exists(
      java.nio.file.Paths.get(f))))
    assert(SnapshotTable.read(spark, root).collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("vacuum sweeps aged never-referenced orphans but spares young ones") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = freshRoot("orphan")
    SnapshotTable.commit(root, Seq((1L, "a")).toDF("k", "s"))
    // simulate a lost commitIfParent attempt: a data/<uuid> file that
    // no manifest has ever referenced
    val orphanDir = Paths.get(root, "data", "deadbeef-lost-cas")
    Files.createDirectories(orphanDir)
    val orphan = orphanDir.resolve("part-00000.parquet")
    Files.writeString(orphan, "stale")
    // a YOUNG orphan may be an in-flight commit — spared by the guard
    val (_, fDelYoung) = SnapshotTable.vacuum(root, 1)
    assert(fDelYoung == 0 && Files.exists(orphan))
    // aged past the guard (dir AND file mtimes backdated an hour —
    // the whole-dir rule ages on the newest entry), it is garbage:
    // swept by a DEFAULT vacuum, dir and all, table intact
    val anHourAgo = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600000L)
    Files.setLastModifiedTime(orphan, anHourAgo)
    Files.setLastModifiedTime(orphanDir, anHourAgo)
    val (_, fDelAged) = SnapshotTable.vacuum(root, 1)
    assert(fDelAged == 1)
    assert(!Files.exists(orphan) && !Files.exists(orphanDir))
    // retained commits keep their non-parquet sidecars: the live
    // version's dir holds referenced files, so the dir rule skips it
    val s = Files.list(Paths.get(root, "data"))
    val keptDirs = try s.count() finally s.close()
    assert(keptDirs > 0)
    assert(SnapshotTable.read(spark, root).count() == 1L)
  }

  test("restore rolls back as a new commit, preserving history, moving no data") {
    import spark.implicits._
    val root = freshRoot("restore")
    SnapshotTable.commit(root, Seq((1L, "good"), (2L, "good")).toDF("k", "s"))
    SnapshotTable.commit(root, Seq((9L, "bad")).toDF("k", "s"))
    val v3 = SnapshotTable.restore(root, 1L)
    assert(v3 == 3L)
    // latest = v1's state, via v1's FILES (no data copied)
    assert(SnapshotTable.manifestFiles(root, 3L) ==
      SnapshotTable.manifestFiles(root, 1L))
    assert(SnapshotTable.read(spark, root).orderBy("k").collect()
      .map(_.getString(1)).toSeq == Seq("good", "good"))
    // the bad version stays readable for the incident review
    assert(SnapshotTable.read(spark, root, Some(2L)).collect()
      .map(_.getString(1)).toSeq == Seq("bad"))
  }

  test("schema evolution: merged read widens, time travel keeps the old shape") {
    import spark.implicits._
    val root = freshRoot("evo")
    SnapshotTable.commit(root, Seq((1L, 10L)).toDF("k", "a"))
    SnapshotTable.append(root, Seq((2L, 20L, 99L)).toDF("k", "a", "b"))
    val merged = SnapshotTable.readMerged(spark, root).orderBy("k")
    assert(merged.schema.fieldNames.toSeq == Seq("k", "a", "b"))
    val rows = merged.collect().map(r =>
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 10L, null), (2L, 20L, 99L)))
    // the pre-evolution version is untouched by the widening
    assert(SnapshotTable.read(spark, root, Some(1L))
      .schema.fieldNames.toSeq == Seq("k", "a"))
  }

  test("shallow clone is zero-copy, diverges independently, and its vacuum never touches the source") {
    import spark.implicits._
    val src = freshRoot("clsrc")
    val dst = freshRoot("cldst")
    SnapshotTable.commit(src, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val v = SnapshotTable.cloneTo(src, 1L, dst)
    assert(v == 1L)
    // zero-copy: the clone's manifest references the SOURCE's files
    assert(SnapshotTable.manifestFiles(dst, 1L).toSet ==
      SnapshotTable.manifestFiles(src, 1L).toSet)
    // divergence: append to the clone, source unchanged
    SnapshotTable.append(dst, Seq((3L, "c")).toDF("k", "s"))
    assert(SnapshotTable.read(spark, dst).count() == 3L)
    assert(SnapshotTable.read(spark, src).count() == 2L)
    // the containment guard: vacuum the clone down to a version that
    // no longer references the source — the SOURCE's files must
    // survive (the shallow-clone hazard, closed structurally)
    SnapshotTable.commit(dst, Seq((9L, "z")).toDF("k", "s")) // v3: own files only
    SnapshotTable.vacuum(dst, 1)
    assert(SnapshotTable.read(spark, src).count() == 2L,
      "clone vacuum deleted source data files")
    assert(SnapshotTable.read(spark, dst).count() == 1L)
  }

  test("mergeFrom folds branch divergence onto mainline progress; re-merge is a no-op") {
    import spark.implicits._
    val src = freshRoot("mgsrc")
    val br = freshRoot("mgbr")
    SnapshotTable.commit(src, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    SnapshotTable.cloneTo(src, 1L, br)
    SnapshotTable.append(br, Seq((3L, 30L)).toDF("id", "v"))
    // mainline advances AFTER the cut — the merge must not lose this
    SnapshotTable.append(src, Seq((4L, 40L)).toDF("id", "v"))
    val v = SnapshotTable.mergeFrom(src, br, 1L)
    assert(v == 3L)
    val merged = SnapshotTable.read(spark, src)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged == Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    // branch history untouched by the merge
    assert(SnapshotTable.latestVersion(br).contains(2L))
    assert(SnapshotTable.read(spark, br).collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L))
    // re-merge: a new version, but the identical file set (no dup rows)
    val files3 = SnapshotTable.manifestFiles(src, 3L).toSet
    val v2 = SnapshotTable.mergeFrom(src, br, 1L)
    assert(SnapshotTable.manifestFiles(src, v2).toSet == files3)
    assert(SnapshotTable.read(spark, src).count() == 4L)
  }

  test("compact shrinks the file set, preserves content, keeps history") {
    import spark.implicits._
    val root = freshRoot("compact")
    val df = (1L to 500L).map(i => (i, s"row$i")).toDF("id", "payload")
    SnapshotTable.commit(root, df.repartition(16))
    assert(SnapshotTable.manifestFiles(root, 1L).size == 16)
    val v2 = SnapshotTable.compact(spark, root, 2)
    assert(v2 == 2L)
    // fewer, bigger files (coalesce floor = the read's own partition
    // packing, so assert the bound, not conf-dependent equality);
    // content identical set-wise; v1 untouched
    val nOut = SnapshotTable.manifestFiles(root, 2L).size
    assert(nOut >= 1 && nOut <= 2, s"compacted to $nOut files")
    val before = SnapshotTable.read(spark, root, Some(1L))
      .collect().map(_.toString).sorted.toSeq
    val after = SnapshotTable.read(spark, root)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before && after.size == 500)
    // superseded v1 files are vacuum-reclaimable, table stays readable
    val (manifestsDropped, filesDeleted) = SnapshotTable.vacuum(root, 1)
    assert(manifestsDropped == 1 && filesDeleted == 16,
      s"vacuum swept ($manifestsDropped manifests, $filesDeleted files)")
    assert(SnapshotTable.read(spark, root).count() == 500)
  }

  test("table_compact's operator artifact really shrinks the file set") {
    // the operator's oracle proves content identity; the layout claim
    // (16 fragments -> <= 2 files) is pinned HERE on the operator's
    // own artifact root
    SparkEntry.queries("table_compact")(spark, sfDir).collect()
    val root = TempDirs.scoped("snapcomp", sfDir)
    assert(SnapshotTable.manifestFiles(root, 1L).size == 16)
    val nOut = SnapshotTable.manifestFiles(
      root, SnapshotTable.latestVersion(root).get).size
    assert(nOut >= 1 && nOut <= 2, s"operator compacted to $nOut files")
  }

  test("table_time_travel rebuilds from an empty root after a crashed build") {
    // a build that crashed after its first commit leaves v1 in the
    // operator's root; the retry must land the change log at versions
    // 1-3 again, or its read of version 2 returns the wrong state
    def rows(d: String): Seq[String] =
      SparkEntry.queries("table_time_travel")(spark, d)
        .collect().map(_.toString).toSeq
    val (crashed, clean) =
      (fixtureCopy("graft_tt_crashed"), fixtureCopy("graft_tt_clean"))
    try {
      SnapshotTable.commit(TempDirs.scoped("snaptt", crashed.toString),
        Tables.documents(spark, crashed.toString)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .filter(col("doc_id") % 3 === 0))
      val want = rows(clean.toString)
      assert(want.nonEmpty)
      assert(rows(crashed.toString) == want)
    } finally Seq(crashed, clean).foreach(TempDirs.deleteRecursively)
  }

  test("compact never re-lands stale content over a concurrent append") {
    import spark.implicits._
    val root = freshRoot("race")
    SnapshotTable.commit(root, Seq((1L, "a")).toDF("id", "v"))
    // steal compact's slot: a concurrent append lands v2 between
    // compact's read (of v1) and its commit attempt — simulated by
    // pre-claiming v2, exactly what commitIfParent must detect
    SnapshotTable.append(root, Seq((2L, "b")).toDF("id", "v"))
    val lost = SnapshotTable.commitIfParent(root,
      Seq((1L, "a")).toDF("id", "v").coalesce(1), expectedParent = 1L)
    assert(lost.isEmpty, "stale parent-pinned commit must be refused")
    // the real compact retries against the CURRENT latest and keeps
    // the appended row
    val v = SnapshotTable.compact(spark, root, 1)
    assert(v == 3L)
    assert(SnapshotTable.read(spark, root).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("incremental read returns exactly the appended delta; empty range is empty") {
    import spark.implicits._
    val root = freshRoot("incr")
    SnapshotTable.commit(root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    SnapshotTable.append(root, Seq((3L, "c")).toDF("id", "v"))
    SnapshotTable.append(root, Seq((4L, "d"), (5L, "e")).toDF("id", "v"))
    val d23 = SnapshotTable.readIncremental(spark, root, 2L, 3L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(d23 == Seq(4L, 5L))
    val d13 = SnapshotTable.readIncremental(spark, root, 1L, 3L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(d13 == Seq(3L, 4L, 5L))
    // same-version range: empty frame, schema intact
    val d33 = SnapshotTable.readIncremental(spark, root, 3L, 3L)
    assert(d33.count() == 0 && d33.columns.toSeq == Seq("id", "v"))
    // a REWRITE commit surfaces its whole file set (the documented
    // manifest-diff CDC caveat)
    SnapshotTable.commit(root,
      SnapshotTable.read(spark, root).filter(col("id") =!= 1L))
    val d34 = SnapshotTable.readIncremental(spark, root, 3L, 4L)
    assert(d34.count() == 4)
  }

  test("an empty commit reads back as zero rows with the schema intact") {
    // Spark writes a schema-only part file for an empty df, so an
    // empty version is a first-class readable snapshot (a TRUNCATE),
    // never a fileless manifest — the commit-side require guards the
    // only fileless case (a zero-partition write)
    import spark.implicits._
    val root = freshRoot("empty")
    val v = SnapshotTable.commit(root, Seq.empty[(Long, String)].toDF("k", "s"))
    val df = SnapshotTable.read(spark, root, Some(v))
    assert(df.count() == 0L)
    assert(df.schema.fieldNames.toSeq == Seq("k", "s"))
  }
}
