package graft

import graft.etl.Snapshots
import org.apache.spark.sql.functions._

/** Versioned snapshots + time travel (etl/Snapshots): commit
  * protocol, historical reads, metadata-only rollback, vacuum
  * retention, and crash-orphan invisibility.
  */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def df(n: Int) = (1 to n).map(i => (i.toLong, s"r$i")).toDF("id", "s")

  /** Overwrite the hint through the HADOOP FS (crc sidecar updated) —
    * the shape a real delayed/odd writeHint leaves behind; a plain
    * NIO write would skew the checksum and make the hint unreadable,
    * testing the corrupt-fallback path instead.
    */
  private def writeHintVia(root: String, s: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/_versions/_latest_hint")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  test("commit/read round-trip; versions increment; latest wins") {
    val root = tmpDir("snap_rt")
    assert(Snapshots.versions(spark, root).isEmpty)
    assert(Snapshots.commit(spark, df(3), root) === 1L)
    assert(Snapshots.commit(spark, df(5), root) === 2L)
    assert(Snapshots.versions(spark, root) === Seq(1L, 2L))
    assert(Snapshots.read(spark, root).count() === 5)
  }

  test("time travel: old versions stay readable bit-for-bit after later commits") {
    val root = tmpDir("snap_tt")
    Snapshots.commit(spark, df(3), root)
    Snapshots.commit(spark, df(3).withColumn("s", upper(col("s"))), root)
    val v1 = Snapshots.read(spark, root, Some(1L)).orderBy("id")
      .as[(Long, String)].collect()
    assert(v1 === Array((1L, "r1"), (2L, "r2"), (3L, "r3")))
    val v2 = Snapshots.read(spark, root, Some(2L)).orderBy("id")
      .as[(Long, String)].collect()
    assert(v2 === Array((1L, "R1"), (2L, "R2"), (3L, "R3")))
  }

  test("rollback is metadata-only and append-only") {
    val root = tmpDir("snap_rb")
    Snapshots.commit(spark, df(3), root)
    Snapshots.commit(spark, df(9), root) // the "bad" version
    val v3 = Snapshots.rollback(spark, root, to = 1L)
    assert(v3 === 3L)
    assert(Snapshots.read(spark, root).count() === 3)
    // the bad version remains inspectable
    assert(Snapshots.read(spark, root, Some(2L)).count() === 9)
    // no data was copied: still exactly two data dirs (v3 points at
    // v1's), and v3's version file references an existing dir
    val dataDirs = new java.io.File(s"$root/data").listFiles().map(_.getName)
    assert(dataDirs.length === 2, dataDirs.mkString(","))
  }

  test("a crashed commit's orphan data dir is invisible and vacuumable") {
    val root = tmpDir("snap_crash")
    Snapshots.commit(spark, df(3), root)
    // simulate a crash: data fully written, version file never published
    df(7).write.parquet(s"$root/data/v2")
    assert(Snapshots.latestVersion(spark, root) === Some(1L))
    assert(Snapshots.read(spark, root).count() === 3)
    Snapshots.vacuum(spark, root, keepLast = 5, orphanGraceMs = 0)
    assert(!new java.io.File(s"$root/data/v2").exists(), "orphan not reclaimed")
    assert(Snapshots.read(spark, root).count() === 3)
  }

  test("vacuum keeps rollback-target data alive while dropping old versions") {
    val root = tmpDir("snap_vac")
    Snapshots.commit(spark, df(2), root)  // v1
    Snapshots.commit(spark, df(4), root)  // v2
    Snapshots.rollback(spark, root, 1L)   // v3 -> data/v1
    Snapshots.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0)
    // only v3 survives, and it still reads v1's data
    assert(Snapshots.versions(spark, root) === Seq(3L))
    assert(Snapshots.read(spark, root).count() === 2)
    // v2's now-unreferenced data dir is gone; exactly the one dir
    // v3 references (v1's data) survives
    val dataDirs = new java.io.File(s"$root/data").listFiles().map(_.getName)
    assert(dataDirs.length === 1, dataDirs.mkString(","))
  }

  test("concurrent commits all land as distinct versions with intact data") {
    // the optimistic-concurrency contract: N racing writers never
    // overwrite each other's data (unique dirs) and each lands as
    // SOME version (publish-race retry) — the multi-writer reality
    // of a shared 100 TB table
    val root = tmpDir("snap_occ")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (1 to 4).map { i =>
      new Thread(() =>
        try versions.add(Snapshots.commit(spark, df(i * 10), root))
        catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"commit failed: ${errors.peek()}")
    import scala.jdk.CollectionConverters._
    val vs = versions.asScala.toSeq.sorted
    assert(vs === Seq(1L, 2L, 3L, 4L), s"versions $vs")
    // every committed version reads back one of the written frames,
    // complete — no torn or cross-written data
    val sizes = vs.map(v => Snapshots.read(spark, root, Some(v)).count()).sorted
    assert(sizes === Seq(10L, 20L, 30L, 40L), s"row counts $sizes")
  }

  test("hammered publish races: every publish wins a DISTINCT version, none lost") {
    // rollbacks are metadata-only, so 40 of them from 8 threads hit
    // the publish step nearly simultaneously — the local FS's
    // rename(2) silently REPLACES an existing destination, so a
    // rename-based commit point would let two publishers both claim
    // the same version number (one commit silently lost); the
    // link(2) create-exclusive promote must never do that
    val root = tmpDir("snap_race")
    Snapshots.commit(spark, df(3), root)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val threads = (1 to 8).map { _ =>
      new Thread(() =>
        try {
          barrier.await()
          (1 to 5).foreach(_ => got.add(Snapshots.rollback(spark, root, to = 1L)))
        } catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"publish failed: ${errors.peek()}")
    import scala.jdk.CollectionConverters._
    val vs = got.asScala.toSeq.sorted
    assert(vs === (2L to 41L), s"publish races lost or duplicated a version: $vs")
    assert(Snapshots.versions(spark, root) === (1L to 41L))
  }

  test("commit is exactly the write job; rollback runs zero jobs") {
    val root = tmpDir("snap_jobs")
    def jobsIn(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      // the status store is fed asynchronously — poll until stable
      var last = -1
      var n = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      var spins = 0
      while (n != last && spins < 50) {
        last = n; Thread.sleep(100)
        n = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
        spins += 1
      }
      n
    }
    assert(jobsIn("snap_commit_probe") {
      Snapshots.commit(spark, df(4), root)
    } === 1, "commit must run ONLY the write — n_rows rides the write via observe")
    assert(jobsIn("snap_rollback_probe") {
      Snapshots.rollback(spark, root, to = 1L)
    } === 0, "rollback must be metadata-only — no data read for n_rows")
    // and the observed n_rows landed in the version metadata
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_versions/v00000001.json")), "UTF-8")
    assert(body.contains("\"n_rows\":4"), body)
  }

  test("commitWithStats: time travel prunes; rollback reuses its index; vacuum reclaims stats") {
    import spark.implicits._
    val root = tmpDir("snap_skip")
    def clustered(df: org.apache.spark.sql.DataFrame) =
      df.repartitionByRange(4, col("id")).sortWithinPartitions("id")
    val v1 = Snapshots.commitWithStats(spark,
      clustered((1L to 400L).map(i => (i, s"a$i")).toDF("id", "s")),
      root, Seq("id"))
    val v2 = Snapshots.commitWithStats(spark,
      clustered((1L to 800L).map(i => (i, s"b$i")).toDF("id", "s")),
      root, Seq("id"))
    // historical version prunes from ITS OWN index
    val (r1, n1, t1) = Snapshots.readPruned(
      spark, root, Some(v1), "id", Some(lit(50L)), Some(lit(60L)))
    assert(r1.select("id").as[Long].collect().sorted === (50L to 60L).toArray)
    assert(n1 > 0 && n1 < t1, s"v1 read $n1 of $t1 files")
    // latest prunes too
    val (r2, n2, t2) = Snapshots.readPruned(
      spark, root, None, "id", Some(lit(700L)), None)
    assert(r2.count() === 101L)
    assert(n2 > 0 && n2 < t2)
    // metadata-only rollback: the re-pointed version serves the SAME
    // pruned read from v1's already-built index — zero stats work
    val v3 = Snapshots.rollback(spark, root, v1)
    val (r3, n3, t3) = Snapshots.readPruned(
      spark, root, Some(v3), "id", Some(lit(50L)), Some(lit(60L)))
    assert(r3.count() === 11L)
    assert((n3, t3) === ((n1, t1)))
    // vacuum drops a reclaimed dir's stats alongside its data
    Snapshots.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0) // keeps v3 → v1's dir
    val statsDirs = new java.io.File(s"$root/_stats").listFiles().map(_.getName)
    assert(statsDirs.length === 1, s"v$v2's stats survived vacuum: ${statsDirs.mkString(",")}")
    assert(Snapshots.readPruned(spark, root, None, "id",
      Some(lit(50L)), Some(lit(60L)))._1.count() === 11L)
  }

  test("optimize compacts latest into a new version; data identical, history intact") {
    import spark.implicits._
    val root = tmpDir("snap_opt")
    val v1 = Snapshots.commitWithStats(spark,
      (1L to 500L).map(i => (i, s"r$i")).toDF("id", "s").repartition(20),
      root, Seq("id"))
    def nFiles(v: Long) = Snapshots.read(spark, root, Some(v))
      .select(org.apache.spark.sql.functions.input_file_name()).distinct().count()
    assert(nFiles(v1) === 20L)
    val r2 = Snapshots.optimize(spark, root,
      targetBytes = 1L << 30, statsCols = Seq("id"))
    val v2 = r2.version
    assert(v2 === v1 + 1)
    assert(r2.filesRewritten === 20 && r2.filesTotal === 20)
    assert(nFiles(v2) === 1L)
    // bit-identical data, both directions
    val a = Snapshots.read(spark, root, Some(v1))
    val b = Snapshots.read(spark, root, Some(v2))
    assert(a.exceptAll(b).count() === 0L && b.exceptAll(a).count() === 0L)
    // the small-file layout stays time-travel readable, and the
    // compacted version serves pruned reads from its own index
    assert(nFiles(v1) === 20L)
    val (pr, nRead, nTotal) = Snapshots.readPruned(
      spark, root, None, "id", Some(lit(10L)), Some(lit(20L)))
    assert(pr.count() === 11L)
    assert(nRead === 1 && nTotal === 1)
    // vacuum later reclaims the pre-optimize layout
    Snapshots.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0)
    assert(Snapshots.versions(spark, root) === Seq(v2))
    assert(Snapshots.read(spark, root).count() === 500L)
  }

  test("optimize never shadows a concurrent commit (conflict-checked publish)") {
    // optimize's output is a function of the version it READ, so its
    // publish must lose to any commit that lands after the read — the
    // invariant under any interleaving: an optimize-published version
    // is data-identical to its IMMEDIATE predecessor, and every
    // concurrent commit's own version still reads its full frame
    val root = tmpDir("snap_opt_occ")
    Snapshots.commit(spark, df(5).repartition(4), root)
    val optVs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val commitVs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val committer = new Thread(() =>
      try {
        barrier.await()
        (1 to 3).foreach(i =>
          commitVs.add(Snapshots.commit(spark, df(i * 10).repartition(4), root)))
      } catch { case t: Throwable => errors.add(t) })
    val optimizer = new Thread(() =>
      try {
        barrier.await()
        (1 to 3).foreach { _ =>
          // only versions optimize actually PUBLISHED carry its
          // data-identity invariant (a no-op returns the current
          // version, which may be a concurrent commit's)
          val r = Snapshots.optimize(spark, root, targetBytes = 1L << 30)
          if (r.filesRewritten > 0) optVs.add(r.version)
        }
      } catch { case t: Throwable => errors.add(t) })
    committer.start(); optimizer.start()
    committer.join(180000); optimizer.join(180000)
    assert(errors.isEmpty, s"failed: ${errors.peek()}")
    import scala.jdk.CollectionConverters._
    optVs.asScala.foreach { v =>
      val prev = Snapshots.read(spark, root, Some(v - 1))
      val opt = Snapshots.read(spark, root, Some(v))
      assert(prev.exceptAll(opt).count() === 0L &&
        opt.exceptAll(prev).count() === 0L,
        s"optimize v$v is not a compaction of v${v - 1} — a commit was shadowed")
    }
    val sizes = commitVs.asScala.toSeq.sorted
      .map(v => Snapshots.read(spark, root, Some(v)).count())
    assert(sizes === Seq(10L, 20L, 30L))
  }

  test("a version file missing n_rows is rejected, not propagated as -1") {
    val root = tmpDir("snap_bad_meta")
    Snapshots.commit(spark, df(2), root)
    val p = java.nio.file.Paths.get(s"$root/_versions/v00000001.json")
    val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .replaceAll(""","n_rows":\d+""", "")
    java.nio.file.Files.write(p, body.getBytes("UTF-8"))
    intercept[IllegalStateException] { Snapshots.read(spark, root) }
    // rollback must refuse too — republishing would mint a version
    // file the reader regex can never parse
    intercept[IllegalStateException] { Snapshots.rollback(spark, root, 1L) }
  }

  // --- copy-on-write tier: append / merge / deleteRange ---

  private def kv(ids: Seq[Long], tagS: String) =
    ids.map(i => (i, s"$tagS$i")).toDF("id", "s")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")

  test("append is metadata-only: prior files referenced verbatim, batch-sized write") {
    val root = tmpDir("snap_app")
    val v1 = Snapshots.commitWithStats(spark, kv(1L to 400L, "a"), root, Seq("id"))
    val filesV1 = Snapshots.filesOfVersion(spark, root, v1).toSet
    val v2 = Snapshots.append(spark, kv(401L to 500L, "b"), root, Seq("id"))
    val filesV2 = Snapshots.filesOfVersion(spark, root, v2).toSet
    // every v1 file is carried BY REFERENCE — no rewrite, no copy
    assert(filesV1.subsetOf(filesV2), "append rewrote or dropped prior files")
    assert(filesV2.size > filesV1.size)
    assert(Snapshots.read(spark, root).count() === 500L)
    assert(Snapshots.read(spark, root, Some(v1)).count() === 400L)
    // n_rows in metadata is exact without any re-count job
    assert(Snapshots.versionMeta(spark, root, v2).nRows === 500L)
    // the appended version's stats index prunes across BOTH generations
    val (pr, nRead, nTotal) = Snapshots.readPruned(
      spark, root, None, "id", Some(lit(420L)), Some(lit(430L)))
    assert(pr.count() === 11L)
    assert(nRead > 0 && nRead < nTotal, s"read $nRead of $nTotal")
  }

  test("concurrent appends conflict-check: no batch's files are ever dropped") {
    val root = tmpDir("snap_app_occ")
    Snapshots.commit(spark, df(5), root)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(3)
    val threads = (1 to 3).map { i =>
      new Thread(() =>
        try {
          barrier.await()
          Snapshots.append(spark,
            (1 to 10).map(j => (i * 100L + j, s"t$i")).toDF("id", "s"), root)
        } catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(180000))
    assert(errors.isEmpty, s"append failed: ${errors.peek()}")
    // a lost-race append that blindly republished its stale manifest
    // would DROP the winner's files — the final version must hold all
    // three batches plus the base
    assert(Snapshots.read(spark, root).count() === 5L + 30L)
    assert(Snapshots.versions(spark, root) === Seq(1L, 2L, 3L, 4L))
  }

  test("merge: upsert semantics, bounded rewrite, untouched files by reference") {
    import spark.implicits._
    val root = tmpDir("snap_mrg")
    val v1 = Snapshots.commitWithStats(spark, kv(1L to 400L, "a"), root, Seq("id"))
    val filesV1 = Snapshots.filesOfVersion(spark, root, v1).toSet
    // key-localized updates (ids 10..20) + brand-new keys (501, 502)
    val upd = ((10L to 20L).map(i => (i, s"U$i")) ++
      Seq((501L, "N501"), (502L, "N502"))).toDF("id", "s")
    val r = Snapshots.merge(spark, upd, root, "id", Seq("id"))
    assert(r.version === v1 + 1)
    // the 4-file range-clustered layout localizes ids 10..20 in one
    // (at a sampled range boundary: two) file; 501/502 are beyond
    // every range and touch nothing
    assert(r.filesRewritten >= 1 && r.filesRewritten <= 2,
      s"rewrote ${r.filesRewritten} of ${r.filesTotal}")
    assert(r.filesTotal === 4)
    val filesV2 = Snapshots.filesOfVersion(spark, root, r.version).toSet
    assert((filesV1 & filesV2).size === r.filesTotal - r.filesRewritten,
      "untouched files not carried by reference")
    // row-level result: replaced + inserted + untouched
    val got = Snapshots.read(spark, root).as[(Long, String)].collect().toMap
    assert(got.size === 402)
    assert(got(15L) === "U15" && got(501L) === "N501")
    assert(got(9L) === "a9" && got(400L) === "a400")
    // time travel still sees the pre-merge rows
    assert(Snapshots.read(spark, root, Some(v1))
      .filter(col("id") === 15L).as[(Long, String)].head()._2 === "a15")
    // the merged version's reused+fresh stats index still prunes
    val (pr, nRead, nTotal) = Snapshots.readPruned(
      spark, root, None, "id", Some(lit(200L)), Some(lit(210L)))
    assert(pr.count() === 11L)
    assert(nRead < nTotal)
  }

  test("merge null-key updates insert; existing rows with the key untouched") {
    import spark.implicits._
    val root = tmpDir("snap_mrg_null")
    Snapshots.commitWithStats(spark,
      Seq((Some(1L), "a1"), (None: Option[Long], "anull"))
        .toDF("id", "s"), root, Seq("id"))
    val upd = Seq((Some(1L), "U1"), (None: Option[Long], "Unull"))
      .toDF("id", "s")
    Snapshots.merge(spark, upd, root, "id", Seq("id"))
    val got = Snapshots.read(spark, root).as[(Option[Long], String)].collect()
    // key 1 replaced; the null-key update INSERTED (null never
    // matches), the existing null-key row SURVIVED
    assert(got.toSet === Set((Some(1L), "U1"), (None, "anull"), (None, "Unull")))
  }

  test("deleteRange: bounded rewrite, nulls kept, old version retains rows") {
    import spark.implicits._
    val root = tmpDir("snap_del")
    val base = ((1L to 400L).map(i => (Some(i), s"a$i")) :+
      ((None: Option[Long], "anull"))).toDF("id", "s")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    val v1 = Snapshots.commitWithStats(spark, base, root, Seq("id"))
    val r = Snapshots.deleteRange(spark, root, "id",
      Some(lit(301L)), None, Seq("id"))
    assert(r.filesRewritten < r.filesTotal, s"${r.filesRewritten}/${r.filesTotal}")
    val got = Snapshots.read(spark, root)
    assert(got.filter(col("id") >= 301L).count() === 0L)
    // NULL id is NOT in the deleted range — SQL DELETE keeps it
    assert(got.filter(col("id").isNull).count() === 1L)
    assert(got.count() === 301L)
    // retention: the old version still has the purged rows until vacuum
    assert(Snapshots.read(spark, root, Some(v1)).count() === 401L)
  }

  test("vacuum keeps dirs pinned by kept manifests, reclaims dropped manifests+stats") {
    val root = tmpDir("snap_vac_man")
    Snapshots.commitWithStats(spark, kv(1L to 200L, "a"), root, Seq("id"))
    Snapshots.append(spark, kv(201L to 300L, "b"), root, Seq("id"))
    val r = Snapshots.merge(spark,
      Seq((5L, "U5")).toDF("id", "s"), root, "id", Seq("id"))
    Snapshots.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0)
    assert(Snapshots.versions(spark, root) === Seq(r.version))
    // the kept manifest references files inside v1's AND v2's dirs —
    // both must survive, plus the merge's fresh dir
    assert(Snapshots.read(spark, root).count() === 300L)
    val mans = new java.io.File(s"$root/manifests").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")) // local-FS .crc sidecars
    assert(mans.length === 1, s"dropped manifests survived: ${mans.mkString(",")}")
    // pruned reads still serve from the kept layout's stats
    val (pr, _, _) = Snapshots.readPruned(
      spark, root, None, "id", Some(lit(250L)), Some(lit(260L)))
    assert(pr.count() === 11L)
  }

  test("copy-on-write refuses a stats index that does not cover the version") {
    val root = tmpDir("snap_cov")
    Snapshots.commitWithStats(spark, kv(1L to 100L, "a"), root, Seq("id"))
    // corrupt the invariant: drop one file's stats row. This simulates
    // ANOTHER PROCESS having written a bad index — clear the in-process
    // stats memo so the merge actually re-reads the corrupted dir (the
    // memo is sound in-process because this library never rewrites a
    // published layout's stats).
    val m = Snapshots.versionMeta(spark, root, 1L)
    val sp = s"$root/_stats/${m.layoutId}"
    val crippled = spark.read.parquet(sp).limit(2)
    graft.etl.Load.writeAtomic(spark, crippled, sp)
    Snapshots.clearStatsCache()
    val ex = intercept[IllegalArgumentException] {
      Snapshots.merge(spark, Seq((1L, "U")).toDF("id", "s"),
        root, "id", Seq("id"))
    }
    assert(ex.getMessage.contains("covers"), ex.getMessage)
  }

  test("append tags: lastTag rises, rollback does not propagate tags") {
    val root = tmpDir("snap_tag")
    assert(Snapshots.lastTag(spark, root).isEmpty)
    Snapshots.append(spark, df(2), root, tag = Some(0L))
    Snapshots.append(spark, df(3), root, tag = Some(1L))
    assert(Snapshots.lastTag(spark, root) === Some(1L))
    val v3 = Snapshots.rollback(spark, root, 1L)
    assert(Snapshots.versionMeta(spark, root, v3).tag.isEmpty)
    // tag survives being buried by an untagged version
    assert(Snapshots.lastTag(spark, root) === Some(1L))
  }

  test("streaming snapshot ingest: version per batch, fresh-checkpoint replay is a no-op") {
    import spark.implicits._
    val base = tmpDir("snap_stream")
    val li = (1L to 300L).map(i => (i, i % 7)).toDF("id", "grp")
    graft.streaming.Ingest.stageOrderedParquet(spark, Seq(
      li.filter(col("id") <= 100L),
      li.filter(col("id") > 100L && col("id") <= 200L),
      li.filter(col("id") > 200L)), s"$base/staging")
    graft.streaming.Ingest.snapshotIngestAvailableNow(spark,
      s"$base/staging", s"$base/chk", s"$base/t", Seq("id"),
      "id LONG, grp LONG", maxFilesPerTrigger = Some(1))
    assert(Snapshots.versions(spark, s"$base/t") === Seq(1L, 2L, 3L))
    assert(Snapshots.read(spark, s"$base/t").count() === 300L)
    // each version is the prefix union — batch boundaries time-travel
    assert(Snapshots.read(spark, s"$base/t", Some(1L)).count() === 100L)
    assert(Snapshots.read(spark, s"$base/t", Some(2L)).count() === 200L)
    // a FRESH checkpoint replays batch ids 0..2 — all tagged already,
    // so the table must not grow (exactly-once across replays)
    graft.streaming.Ingest.snapshotIngestAvailableNow(spark,
      s"$base/staging", s"$base/chk2", s"$base/t", Seq("id"),
      "id LONG, grp LONG", maxFilesPerTrigger = Some(1))
    assert(Snapshots.versions(spark, s"$base/t") === Seq(1L, 2L, 3L))
    assert(Snapshots.read(spark, s"$base/t").count() === 300L)
    // the stream-maintained stats prune range reads over the table
    val (pr, nRead, nTotal) = Snapshots.readPruned(
      spark, s"$base/t", None, "id", Some(lit(150L)), Some(lit(160L)))
    assert(pr.count() === 11L)
    assert(nRead < nTotal)
  }

  test("append runs exactly the batch write — zero jobs over prior data") {
    // the metadata-only claim, pinned the way the commit test pins
    // n_rows: appending to a table must cost one Spark job (the fresh
    // batch's write) regardless of how much data the table holds
    val root = tmpDir("snap_app_jobs")
    Snapshots.commit(spark, df(50), root)
    def jobsIn(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      var last = -1
      var n = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      var spins = 0
      while (n != last && spins < 50) {
        last = n; Thread.sleep(100)
        n = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
        spins += 1
      }
      n
    }
    assert(jobsIn("snap_append_probe") {
      Snapshots.append(spark, df(5), root)
    } === 1, "append must not re-read or re-count the existing table")
    assert(Snapshots.read(spark, root).count() === 55L)
  }

  test("schema evolution: added column rides the log; old files read as nulls") {
    import spark.implicits._
    val root = tmpDir("snap_evo")
    Snapshots.commitWithStats(spark, kv(1L to 100L, "a"), root, Seq("id"))
    // an unevolved append must REFUSE a drifted batch
    intercept[IllegalArgumentException] {
      Snapshots.append(spark,
        Seq((101L, "b101", "web")).toDF("id", "s", "channel"), root)
    }
    val v2 = Snapshots.append(spark,
      (101L to 150L).map(i => (i, s"b$i", "web")).toDF("id", "s", "channel"),
      root, Seq("id"), evolveSchema = true)
    val latest = Snapshots.read(spark, root)
    assert(latest.columns.toSeq === Seq("id", "s", "channel"))
    // pre-evolution rows surface the added column as NULL; the batch
    // carries its values — and NO footer merging decided this, the
    // logged schema did
    assert(latest.filter(col("channel").isNull).count() === 100L)
    assert(latest.filter(col("channel") === "web").count() === 50L)
    // type conflicts on a shared column are refused
    intercept[IllegalArgumentException] {
      Snapshots.append(spark,
        Seq((151L, 7L, "x")).toDF("id", "s", "channel"),
        root, evolveSchema = true)
    }
    // a MERGE after the evolution keeps the evolved schema readable
    val upd = Seq((5L, "U5", "store")).toDF("id", "s", "channel")
    Snapshots.merge(spark, upd, root, "id", Seq("id"))
    val got = Snapshots.read(spark, root)
    assert(got.columns.toSeq === Seq("id", "s", "channel"))
    assert(got.filter(col("id") === 5L).select("channel")
      .as[String].head() === "store")
    assert(got.filter(col("channel").isNull).count() === 99L)
    // pruned reads honor the evolved schema too
    val (pr, _, _) = Snapshots.readPruned(
      spark, root, Some(v2), "id", Some(lit(120L)), Some(lit(130L)))
    assert(pr.columns.toSeq === Seq("id", "s", "channel"))
    assert(pr.count() === 11L)
  }

  test("optimize clusterBy: re-clustered compaction restores range pruning") {
    import spark.implicits._
    val root = tmpDir("snap_opt_cl")
    // micro-batch accretion: 6 appends, each an id-INTERLEAVED slice
    // (every file spans ~the whole key range — stats prune nothing)
    Snapshots.commitWithStats(spark,
      (1L to 6000L by 6L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1),
      root, Seq("id"))
    (1L to 5L).foreach { r =>
      Snapshots.append(spark,
        ((1L + r) to 6000L by 6L).map(i => (i, s"r$i")).toDF("id", "s")
          .coalesce(1),
        root, Seq("id"))
    }
    val (_, beforeRead, beforeTotal) = Snapshots.readPruned(
      spark, root, None, "id", Some(lit(1000L)), Some(lit(1010L)))
    assert(beforeRead === beforeTotal, "interleaved layout should not prune")
    val v = Snapshots.optimize(spark, root, targetBytes = 16L * 1024,
      statsCols = Seq("id"), clusterBy = Seq("id")).version
    val (pr, afterRead, afterTotal) = Snapshots.readPruned(
      spark, root, Some(v), "id", Some(lit(1000L)), Some(lit(1010L)))
    assert(pr.count() === 11L)
    assert(afterTotal > 1, s"compaction produced $afterTotal files")
    assert(afterRead < afterTotal,
      s"re-clustered layout must prune: $afterRead of $afterTotal")
    assert(Snapshots.read(spark, root).count() === 6000L)
  }

  test("rollback to a version that was never committed is refused") {
    val root = tmpDir("snap_dup")
    Snapshots.commit(spark, df(1), root)
    intercept[IllegalArgumentException] {
      Snapshots.rollback(spark, root, to = 99L)
    }
    // and an empty root refuses reads instead of returning garbage
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, tmpDir("snap_empty"))
    }
  }

  test("changes: append-only diff reads only the fresh files, all inserts") {
    val root = tmpDir("snap_cdf_app")
    Snapshots.commit(spark, df(5).repartition(3), root)
    Snapshots.append(spark,
      Seq((100L, "x"), (101L, "y")).toDF("id", "s").coalesce(1), root)
    val cs = Snapshots.changes(spark, root, 1L, 2L)
    // the v1 files are carried by reference — the diff never opens them
    assert(cs.filesRead === cs.filesTo - cs.filesFrom)
    val rows = cs.df.orderBy("id")
      .select("id", "s", "_change_type").as[(Long, String, String)].collect()
    assert(rows === Array((100L, "x", "insert"), (101L, "y", "insert")))
  }

  test("changes: merge nets to delete(old)+insert(new); survivors cancel") {
    val root = tmpDir("snap_cdf_mrg")
    Snapshots.commitWithStats(spark,
      df(6).repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    // update id=2 (same file as id=1, which must cancel), insert id=50
    val upd = Seq((2L, "UPD"), (50L, "NEW")).toDF("id", "s")
    val r = Snapshots.merge(spark, upd, root, "id", Seq("id"))
    val cs = Snapshots.changes(spark, root, 1L, r.version)
    val rows = cs.df.orderBy(col("id"), col("_change_type"))
      .select("id", "s", "_change_type").as[(Long, String, String)].collect()
    assert(rows === Array(
      (2L, "r2", "delete"), (2L, "UPD", "insert"), (50L, "NEW", "insert")))
    // untouched files never open: symmetric difference only
    assert(cs.filesRead < cs.filesFrom + cs.filesTo)
  }

  test("changes: optimize and rollback-to-from net to zero change rows") {
    val root = tmpDir("snap_cdf_opt")
    Snapshots.commit(spark, df(20).repartition(4), root)
    val vOpt = Snapshots.optimize(spark, root, targetBytes = 1L << 30).version
    assert(Snapshots.changes(spark, root, 1L, vOpt).df.count() === 0L)
    Snapshots.commit(spark, df(3), root) // a "bad" overwrite
    val vRb = Snapshots.rollback(spark, root, to = vOpt)
    // rollback re-points at vOpt's layout: identical file list, zero diff
    val cs = Snapshots.changes(spark, root, vOpt, vRb)
    assert(cs.filesRead === 0 && cs.df.count() === 0L)
  }

  test("changes: append-only fast path plans NO aggregate; replace diff " +
    "replicates duplicate rows exactly like the exceptAll pair") {
    // (r16) one-sided steps skip the diff aggregate outright; the
    // two-sided ±1 union-aggregate must keep exceptAll's multiset
    // semantics, including net replication of duplicate rows
    val root = tmpDir("snap_cdf_net")
    Snapshots.commit(spark,
      Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), root)
    Snapshots.append(spark, Seq((3L, "c")).toDF("id", "s").coalesce(1), root)
    val app = Snapshots.changes(spark, root, 1L, 2L).df
    assert(app.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty, "append-only diff must not aggregate")
    assert(app.select("id", "s", "_change_type").as[(Long, String, String)]
      .collect().sorted === Array((3L, "c", "insert")))
    // full replace: v3 holds (1,a)x1 (drops one dup), (2,b)x3 (adds two),
    // (4,d)x1 — net: delete one (1,a), insert two (2,b), insert (4,d)
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b"), (2L, "b"), (2L, "b"), (4L, "d"))
        .toDF("id", "s").coalesce(1), root)
    val got = Snapshots.changes(spark, root, 2L, 3L).df
      .select("id", "s", "_change_type").as[(Long, String, String)]
      .collect().sorted.toSeq
    val before = Snapshots.read(spark, root, Some(2L))
    val after = Snapshots.read(spark, root, Some(3L))
    val want = (after.exceptAll(before).withColumn("_change_type", lit("insert"))
      .unionByName(before.exceptAll(after)
        .withColumn("_change_type", lit("delete"))))
      .select("id", "s", "_change_type").as[(Long, String, String)]
      .collect().sorted.toSeq
    assert(got === want)
    assert(got.count(_ == ((2L, "b", "insert"))) === 2)
    assert(got.count(_ == ((3L, "c", "delete"))) === 1)
  }

  test("deleteWhere: zero data files written, time travel intact, idempotent") {
    val root = tmpDir("snap_dv")
    Snapshots.commit(spark, df(10).repartition(3), root)
    val dirsBefore = new java.io.File(s"$root/data").listFiles().length
    val r = Snapshots.deleteWhere(spark, root, col("id") % 3 === 0)
    assert(r.version === 2L && r.rowsDeleted === 3L && r.dvRowsTotal === 3L)
    // merge-on-read: no new data dir, same layout
    assert(new java.io.File(s"$root/data").listFiles().length === dirsBefore)
    assert(Snapshots.versionMeta(spark, root, 2L).layoutId ===
      Snapshots.versionMeta(spark, root, 1L).layoutId)
    assert(Snapshots.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().map(_._1) === Array(1L, 2L, 4L, 5L, 7L, 8L, 10L))
    assert(Snapshots.read(spark, root, Some(1L)).count() === 10L)
    assert(Snapshots.versionMeta(spark, root, 2L).nRows === 7L)
    // repeated delete matches nothing and publishes nothing
    val r2 = Snapshots.deleteWhere(spark, root, col("id") % 3 === 0)
    assert(r2.version === 2L && r2.rowsDeleted === 0L)
    // vectors ACCUMULATE across deletes
    val r3 = Snapshots.deleteWhere(spark, root, col("id") === 1L)
    assert(r3.version === 3L && r3.rowsDeleted === 1L && r3.dvRowsTotal === 4L)
    assert(Snapshots.read(spark, root).count() === 6L)
  }

  test("deleteWhere null predicate keeps rows; append carries the vector forward") {
    val root = tmpDir("snap_dv_app")
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "c"))
        .toDF("id", "s"), root)
    // pred is null for the null row — SQL DELETE semantics keep it
    val r = Snapshots.deleteWhere(spark, root, length(col("s")) > lit(0) && col("id") === 3L)
    assert(r.rowsDeleted === 1L)
    assert(Snapshots.read(spark, root).count() === 2L)
    Snapshots.append(spark, Seq((10L, "x")).toDF("id", "s"), root)
    val m = Snapshots.versionMeta(spark, root, 3L)
    assert(m.dv.isDefined, "append dropped the deletion vector")
    assert(m.nRows === 3L)
    assert(Snapshots.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().map(_._1) === Array(1L, 2L, 10L))
  }

  test("merge after deleteWhere: no resurrection; untouched vector entries carry") {
    val root = tmpDir("snap_dv_mrg")
    Snapshots.commitWithStats(spark,
      df(9).repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    // delete one row in the low file (id=2) and one in the high (id=8)
    Snapshots.deleteWhere(spark, root, col("id") === 2L || col("id") === 8L)
    // merge touches only the low file (key 1): id=2 must NOT resurrect
    // from the rewrite, id=8's vector entry must carry into the new dv
    val r = Snapshots.merge(spark, Seq((1L, "UPD")).toDF("id", "s"),
      root, "id", Seq("id"))
    assert(r.filesRewritten < r.filesTotal)
    val rows = Snapshots.read(spark, root).orderBy("id")
      .as[(Long, String)].collect()
    assert(rows.map(_._1) === Array(1L, 3L, 4L, 5L, 6L, 7L, 9L))
    assert(rows.head === ((1L, "UPD")))
    assert(Snapshots.versionMeta(spark, root, r.version).dv.isDefined)
    // optimize materializes everything away
    val vOpt = Snapshots.optimize(spark, root).version
    assert(Snapshots.versionMeta(spark, root, vOpt).dv.isEmpty)
    assert(Snapshots.read(spark, root, Some(vOpt)).orderBy("id")
      .as[(Long, String)].collect().map(_._1) === rows.map(_._1))
  }

  test("changes across deletion-vector versions: dv churn only, both directions") {
    val root = tmpDir("snap_dv_cdf")
    Snapshots.commit(spark, df(6).repartition(2), root)
    Snapshots.deleteWhere(spark, root, col("id") <= 2L)
    val cs = Snapshots.changes(spark, root, 1L, 2L)
    val del = cs.df.orderBy("id").select("id", "_change_type")
      .as[(Long, String)].collect()
    assert(del === Array((1L, "delete"), (2L, "delete")))
    // rollback across the delete: the same rows come back as inserts
    val vRb = Snapshots.rollback(spark, root, to = 1L)
    val back = Snapshots.changes(spark, root, 2L, vRb).df
      .orderBy("id").select("id", "_change_type").as[(Long, String)].collect()
    assert(back === Array((1L, "insert"), (2L, "insert")))
  }

  test("vacuum reclaims unreferenced deletion vectors, keeps pinned ones") {
    val root = tmpDir("snap_dv_vac")
    Snapshots.commit(spark, df(6), root)
    Snapshots.deleteWhere(spark, root, col("id") === 1L) // v2 + dv A
    Snapshots.deleteWhere(spark, root, col("id") === 2L) // v3 + dv B
    assert(new java.io.File(s"$root/dv").listFiles().count(_.isDirectory) === 2)
    Snapshots.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0)
    // v3's vector (B) is pinned; v2's (A) reclaims
    assert(new java.io.File(s"$root/dv").listFiles().count(_.isDirectory) === 1)
    assert(Snapshots.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().map(_._1) === Array(3L, 4L, 5L, 6L))
  }

  test("constraints: add validates existing data; writers enforce; drop lifts") {
    val root = tmpDir("snap_cons")
    Snapshots.commit(spark, df(5), root)
    // an unsatisfiable constraint is refused outright
    intercept[IllegalArgumentException] {
      Snapshots.addConstraint(spark, root, "small", "id <= 3")
    }
    val v2 = Snapshots.addConstraint(spark, root, "pos", "id > 0")
    assert(v2 === 2L)
    assert(Snapshots.constraintsOf(spark, root) === Seq(("pos", "id > 0")))
    // strict append refuses a violating batch BEFORE writing data
    val dirsBefore = new java.io.File(s"$root/data").listFiles().length
    intercept[IllegalArgumentException] {
      Snapshots.append(spark, Seq((-1L, "bad")).toDF("id", "s"), root)
    }
    assert(new java.io.File(s"$root/data").listFiles().length === dirsBefore)
    // merge updates face the same gate
    Snapshots.commitWithStats(spark, df(5), root, Seq("id"))
    intercept[IllegalArgumentException] {
      Snapshots.merge(spark, Seq((-2L, "bad")).toDF("id", "s"),
        root, "id", Seq("id"))
    }
    // a clean append passes, and NULL passes (SQL CHECK semantics)
    Snapshots.append(spark,
      Seq((Some(9L), "ok"), (None, "null-id")).toDF("id", "s"), root)
    assert(Snapshots.read(spark, root).count() === 7L)
    // drop lifts the gate; the policy history stays time-travelable
    Snapshots.dropConstraint(spark, root, "pos")
    Snapshots.append(spark, Seq((-5L, "now ok")).toDF("id", "s"), root)
    assert(Snapshots.constraintsOf(spark, root) === Nil)
    assert(Snapshots.versionMeta(spark, root, v2).constraints.nonEmpty)
  }

  test("appendWithExpectations quarantines violations with labels, commits the rest") {
    val root = tmpDir("snap_exp")
    val quar = s"${tmpDir("snap_exp_q")}/q"
    Snapshots.commit(spark, df(3), root)
    Snapshots.addConstraint(spark, root, "pos", "id > 0")
    Snapshots.addConstraint(spark, root, "named", "length(s) > 0")
    val batch = Seq((10L, "ok"), (-1L, "neg"), (11L, ""), (-2L, ""))
      .toDF("id", "s")
    val r = Snapshots.appendWithExpectations(spark, batch, root, quar, Seq())
    assert(r.rowsAppended === 1L && r.rowsQuarantined === 3L)
    assert(Snapshots.read(spark, root).count() === 4L)
    val q = spark.read.parquet(quar).orderBy("id")
      .select("id", "_violation").as[(Long, String)].collect()
    assert(q === Array((-2L, "pos,named"), (-1L, "pos"), (11L, "named")))
    // a second batch APPENDS to the quarantine, never clobbers it
    val r2 = Snapshots.appendWithExpectations(spark,
      Seq((-9L, "x")).toDF("id", "s"), root, quar, Seq())
    assert(r2.rowsQuarantined === 1L)
    assert(spark.read.parquet(quar).count() === 4L)
    // no constraints → plain append, exact counts
    val root2 = tmpDir("snap_exp2")
    Snapshots.commit(spark, df(2), root2)
    val r3 = Snapshots.appendWithExpectations(spark,
      Seq((7L, "z")).toDF("id", "s"), root2, quar, Seq())
    assert(r3.rowsAppended === 1L && r3.rowsQuarantined === 0L)
  }

  test("constraints ride every writer forward in the log") {
    val root = tmpDir("snap_cons_ride")
    Snapshots.commitWithStats(spark, df(6), root, Seq("id"))
    Snapshots.addConstraint(spark, root, "pos", "id > 0")
    Snapshots.append(spark, Seq((7L, "g")).toDF("id", "s"), root)
    Snapshots.merge(spark, Seq((1L, "UPD")).toDF("id", "s"), root, "id", Seq("id"))
    Snapshots.deleteRange(spark, root, "id", Some(lit(6L)), Some(lit(6L)), Seq("id"))
    Snapshots.deleteWhere(spark, root, col("id") === 5L)
    Snapshots.optimize(spark, root)
    assert(Snapshots.constraintsOf(spark, root) === Seq(("pos", "id > 0")),
      "a writer dropped the constraint metadata")
    // commit (full replace) validates too
    intercept[IllegalArgumentException] {
      Snapshots.commit(spark, Seq((-1L, "bad")).toDF("id", "s"), root)
    }
  }

  test("changesKeyed: update pairs reclassify; null keys and singletons do not") {
    val root = tmpDir("snap_cdf_key")
    Snapshots.commitWithStats(spark,
      Seq((Some(1L), "a"), (Some(2L), "b"), (None, "nk"))
        .toDF("id", "s").coalesce(1), root, Seq("id"))
    // merge updates id=1, inserts id=9; null-key update row INSERTS
    // (merge null semantics) while the old null-key row survives
    Snapshots.merge(spark,
      Seq((Some(1L), "A2"), (Some(9L), "new"), (None, "nk2")).toDF("id", "s"),
      root, "id", Seq("id"))
    val rows = Snapshots.changesKeyed(spark, root, 1L, 2L, "id").df
      .orderBy(col("id"), col("s"))
      .select("id", "s", "_change_type").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1), r.getString(2)))
    assert(rows === Array(
      (None, "nk2", "insert"), // nulls sort first; never pairs as update
      (Some(1L), "A2", "update_postimage"),
      (Some(1L), "a", "update_preimage"),
      (Some(9L), "new", "insert")))
  }

  test("changesKeyed scatters null keys instead of one window partition") {
    val root = tmpDir("snap_cdf_nullsalt")
    Snapshots.commitWithStats(spark,
      Seq((Some(1L), "a")).toDF("id", "s").coalesce(1), root, Seq("id"))
    // a null-HEAVY churn batch: every appended row has a null key.
    // (r16) an append-only step is provably one-sided — no pair can
    // exist, so the pairing window (and any straggler shape) is
    // skipped OUTRIGHT: the plan carries no Window at all
    Snapshots.append(spark,
      (1 to 100).map(i => (None: Option[Long], s"n$i")).toDF("id", "s"), root)
    val df = Snapshots.changesKeyed(spark, root, 1L, 2L, "id").df
    assert(df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, "one-sided feed must skip the pairing window")
    // semantics unchanged: null keys never reclassify
    assert(df.filter(col("id").isNull).select("_change_type").distinct()
      .as[String].collect().toSeq === Seq("insert"))
    assert(df.count() === 100L)
    // a TWO-SIDED step (full replace: null-heavy churn both ways)
    // still windows — and the null-key scatter salt rides the
    // partition spec so nulls never collapse into ONE window partition
    Snapshots.commit(spark,
      ((1 to 100).map(i => (None: Option[Long], s"m$i")) :+
        ((Some(2L): Option[Long], "b"))).toDF("id", "s"), root)
    val df2 = Snapshots.changesKeyed(spark, root, 2L, 3L, "id").df
    assert(df2.queryExecution.optimizedPlan.toString.contains("__salt"),
      "the null-key scatter salt must ride the window partition spec")
    assert(df2.filter(col("id").isNull).select("_change_type").distinct()
      .as[String].collect().toSeq.sorted === Seq("delete", "insert"))
  }

  test("deltaFromChanges maintains a rollup without re-reading the base table") {
    val root = tmpDir("snap_cdf_agg")
    val t = Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "x", 30L))
      .toDF("id", "g", "v")
    Snapshots.commitWithStats(spark, t.coalesce(1), root, Seq("id"))
    var agg = graft.etl.IncrementalAgg.recompute(
      Snapshots.read(spark, root), Seq("g"), Seq("v"))
    Snapshots.append(spark, Seq((4L, "y", 40L)).toDF("id", "g", "v"), root)
    Snapshots.merge(spark, Seq((1L, "x", 11L)).toDF("id", "g", "v"),
      root, "id", Seq("id"))
    (2L to 3L).foreach { v =>
      agg = graft.etl.IncrementalAgg.applyDelta(agg,
        graft.etl.IncrementalAgg.deltaFromChanges(
          Snapshots.changes(spark, root, v - 1, v).df, Seq("g"), Seq("v")),
        Seq("g"), Seq("v"))
    }
    val got = agg.orderBy("g").as[(String, Long, Long)].collect()
    assert(got === Array(("x", 2L, 41L), ("y", 2L, 60L)))
  }

  test("history is metadata-only and exact per version") {
    val root = tmpDir("snap_hist")
    Snapshots.commit(spark, df(4), root)
    Snapshots.append(spark, Seq((9L, "r9")).toDF("id", "s"), root,
      tag = Some(42L))
    Snapshots.deleteWhere(spark, root, col("id") === 2L)
    Snapshots.addConstraint(spark, root, "id_pos", "id > 0")
    val h = Snapshots.history(spark, root)
      .as[(Long, String, Long, Option[Long], Boolean, Int)]
      .collect().toSeq
    assert(h === Seq(
      (1L, "dir", 4L, None, false, 0),
      (2L, "manifest", 5L, Some(42L), false, 0),
      (3L, "manifest", 4L, None, true, 0),
      (4L, "manifest", 4L, None, true, 1)))
  }

  test("the change feed composes transitively: a derived table's log drives a second fold") {
    val base = tmpDir("snap_cdf_chain")
    val bronze = s"$base/b"; val silver = s"$base/s"
    def xf(df: org.apache.spark.sql.DataFrame) = df.filter(col("v") >= 20L)
    // bronze v1 → silver v1 (tagged with its source version)
    Snapshots.commitWithStats(spark,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v").coalesce(1),
      bronze, Seq("id"))
    Snapshots.append(spark, xf(Snapshots.read(spark, bronze)), silver,
      Seq("id"), tag = Some(1L))
    var gold = graft.etl.IncrementalAgg.recompute(
      Snapshots.read(spark, silver), Seq.empty, Seq("v"))
    // bronze v2 flows hop 1 (churn-only transform) then hop 2 (fold
    // of SILVER's own feed) — neither hop re-reads its source table
    Snapshots.append(spark,
      Seq((4L, 40L), (5L, 5L)).toDF("id", "v"), bronze, Seq("id"))
    Snapshots.append(spark,
      xf(Snapshots.changes(spark, bronze, 1L, 2L).df
        .filter(col("_change_type") === "insert").drop("_change_type")),
      silver, Seq("id"), tag = Some(2L))
    val sv = Snapshots.latestVersion(spark, silver).get
    assert(sv === 2L)
    gold = graft.etl.IncrementalAgg.applyDelta(gold,
      graft.etl.IncrementalAgg.deltaFromChanges(
        Snapshots.changes(spark, silver, 1L, 2L).df, Seq.empty, Seq("v")),
      Seq.empty, Seq("v"))
    assert(gold.as[(Long, Long)].collect() === Array((3L, 90L)))
    // silver's log remembers which bronze commits it embodies
    assert(Snapshots.lastTag(spark, silver) === Some(2L))
  }

  test("streaming CDC upsert: merge per batch, fresh-checkpoint rerun is a no-op") {
    val base = tmpDir("snap_ups")
    val b1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    val b2 = Seq((2L, "B2"), (4L, "d")).toDF("id", "s")
    graft.streaming.Ingest.stageOrderedParquet(spark, Seq(b1, b2),
      s"$base/staging")
    graft.streaming.Ingest.snapshotUpsertAvailableNow(spark, s"$base/staging",
      s"$base/chk", s"$base/t", "id", Seq("id"), "id LONG, s STRING",
      maxFilesPerTrigger = Some(1))
    assert(Snapshots.versions(spark, s"$base/t") === Seq(1L, 2L))
    graft.streaming.Ingest.snapshotUpsertAvailableNow(spark, s"$base/staging",
      s"$base/chk2", s"$base/t", "id", Seq("id"), "id LONG, s STRING",
      maxFilesPerTrigger = Some(1))
    assert(Snapshots.versions(spark, s"$base/t") === Seq(1L, 2L),
      "fresh-checkpoint replay re-applied a batch")
    assert(Snapshots.read(spark, s"$base/t").orderBy("id")
      .as[(Long, String)].collect() ===
      Array((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
  }

  test("shallow clone: zero copy, isolated divergence, dv refusal, vacuum safety") {
    val src = tmpDir("snap_cl_src")
    val dst = tmpDir("snap_cl_dst") + "/t"
    Snapshots.commitWithStats(spark,
      df(8).repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      src, Seq("id"))
    Snapshots.addConstraint(spark, src, "pos", "id > 0")
    Snapshots.cloneShallow(spark, src, dst)
    // zero copy: the clone owns no data files, yet reads the source
    assert(!new java.io.File(s"$dst/data").exists())
    assert(Snapshots.read(spark, dst).count() === 8L)
    // policy rides over: the clone enforces the source's constraint
    intercept[IllegalArgumentException] {
      Snapshots.append(spark, Seq((-1L, "bad")).toDF("id", "s"), dst)
    }
    // divergence stays in the clone
    Snapshots.merge(spark, Seq((1L, "CLONE")).toDF("id", "s"),
      dst, "id", Seq("id"))
    assert(Snapshots.read(spark, dst).filter(col("s") === "CLONE").count() === 1L)
    assert(Snapshots.versions(spark, src) === Seq(1L, 2L)) // commit + constraint
    assert(Snapshots.read(spark, src).filter(col("s") === "CLONE").count() === 0L)
    // vacuuming the CLONE never reclaims source files
    Snapshots.vacuum(spark, dst, keepLast = 1, orphanGraceMs = 0)
    assert(Snapshots.read(spark, src).count() === 8L)
    assert(Snapshots.read(spark, dst).count() === 8L)
    // a deletion-vector version must be materialized before cloning
    Snapshots.deleteWhere(spark, src, col("id") === 2L)
    intercept[IllegalArgumentException] {
      Snapshots.cloneShallow(spark, src, tmpDir("snap_cl_dst2") + "/t")
    }
  }

  test("versionAsOf: the log is the clock") {
    val root = tmpDir("snap_asof")
    Snapshots.commit(spark, df(1), root)
    Snapshots.commit(spark, df(2), root)
    // pin mtimes deterministically (sub-second commits could tie)
    val f = new org.apache.hadoop.fs.Path(s"$root/_versions")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = 1700000000000L
    f.setTimes(new org.apache.hadoop.fs.Path(
      s"$root/_versions/v00000001.json"), t0, -1)
    f.setTimes(new org.apache.hadoop.fs.Path(
      s"$root/_versions/v00000002.json"), t0 + 60000, -1)
    assert(Snapshots.versionAsOf(spark, root, t0) === 1L)
    assert(Snapshots.versionAsOf(spark, root, t0 + 59999) === 1L)
    assert(Snapshots.versionAsOf(spark, root, t0 + 60000) === 2L)
    intercept[IllegalArgumentException] {
      Snapshots.versionAsOf(spark, root, t0 - 1)
    }
    assert(Snapshots.read(spark, root,
      Some(Snapshots.versionAsOf(spark, root, t0))).count() === 1L)
  }

  test("medallion pipeline refuses a source feed carrying deletes") {
    val base = tmpDir("snap_pipe_del")
    val src = s"$base/src"
    Snapshots.commitWithStats(spark, df(6), src, Seq("id"))
    Snapshots.deleteWhere(spark, src, col("id") === 2L)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.Ingest.snapshotPipelineAvailableNow(spark, src,
        s"$base/chk", s"$base/dst", Seq("id"), identity)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("append-only")))
  }

  test("streaming change feed attaches mid-history: initial snapshot, then deltas") {
    val root = tmpDir("snap_cdf_mid")
    val base = tmpDir("snap_cdf_mid_io")
    Snapshots.commit(spark, df(4), root)
    Snapshots.append(spark, Seq((10L, "a")).toDF("id", "s"), root)
    // the consumer's first sight of the log is v1+v2 already present;
    // vacuum drops v1 so v2 has no predecessor in the log — it must
    // serve as the INITIAL SNAPSHOT, not fail on a missing v1
    Snapshots.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0)
    Snapshots.append(spark, Seq((11L, "b")).toDF("id", "s"), root)
    graft.streaming.Ingest.snapshotChangesAvailableNow(spark, root,
      s"$base/chk", s"$base/out")
    val feed = spark.read.parquet(s"$base/out")
    val byV = feed.groupBy("batch_v").count().orderBy("batch_v")
      .as[(Int, Long)].collect()
    assert(byV === Array((2, 5L), (3, 1L))) // v2 = full 5 rows, v3 = delta
    assert(feed.filter(col("_change_type") =!= "insert").count() === 0L)
  }

  test("readWithLineage: appends keep their ingest version; dv purges vanish, survivors keep attribution") {
    val root = tmpDir("snap_lin")
    Snapshots.commit(spark, df(4), root)                     // v1: ids 1-4
    Snapshots.append(spark, Seq((10L, "a"), (11L, "b")).toDF("id", "s"), root) // v2
    val att = Snapshots.readWithLineage(spark, root)
      .select("id", "_commit_version").as[(Long, Long)].collect().toMap
    assert(att === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 2L, 11L -> 2L))
    // merge-on-read delete: no file rewritten, so nothing re-attributes
    Snapshots.deleteWhere(spark, root, col("id") === 2L)     // v3 (dv)
    val att3 = Snapshots.readWithLineage(spark, root)
      .select("id", "_commit_version").as[(Long, Long)].collect().toMap
    assert(att3 === Map(1L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 2L, 11L -> 2L))
    // time travel: lineage of v2 ignores the later delete
    val att2 = Snapshots.readWithLineage(spark, root, Some(2L))
      .select("id", "_commit_version").as[(Long, Long)].collect().toMap
    assert(att2 === att)
  }

  test("readWithLineage: a copy-on-write rewrite re-attributes surviving rows (physical lineage, as documented)") {
    val root = tmpDir("snap_lin_cow")
    // one file per version so the rewrite boundary is deterministic
    Snapshots.commitWithStats(spark, df(4).coalesce(1), root, Seq("id")) // v1
    Snapshots.append(spark, Seq((10L, "a")).toDF("id", "s").coalesce(1),
      root, Seq("id"))                                       // v2
    Snapshots.deleteRange(spark, root, "id",
      Some(lit(2L)), Some(lit(3L)), Seq("id"))               // v3 rewrites v1's file
    val att = Snapshots.readWithLineage(spark, root)
      .select("id", "_commit_version").as[(Long, Long)].collect().toMap
    assert(att === Map(1L -> 3L, 4L -> 3L, 10L -> 2L),
      "survivors of the rewritten file carry the rewrite version; the untouched append file keeps v2")
  }

  test("fileLineage is metadata-only: a plan over the log, no data file opened") {
    val root = tmpDir("snap_lin_jobs")
    Snapshots.commit(spark, df(4), root)
    Snapshots.append(spark, Seq((10L, "a")).toDF("id", "s"), root)
    val lin = Snapshots.fileLineage(spark, root)
    // the (file, version) pairs come from manifest TEXT reads and
    // per-dir listings — the aggregation is a distributed plan (it
    // must hold at 10⁶ files × 10² versions), but no PARQUET data
    // file may open in deriving it
    val physical = lin.queryExecution.executedPlan.toString()
    assert(!physical.toLowerCase.contains("parquet"),
      s"lineage plan opened data files:\n$physical")
    val rows = lin.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).toSet === Set(1L, 2L))
  }

  test("fileLineage holds at many files x many versions (distributed fold)") {
    import spark.implicits._
    val root = tmpDir("snap_lin_scale")
    // 16 versions x 12-file batches: 12 + 24 + ... files of history —
    // the shape that melts a driver-side map fold but is trivial for
    // the groupBy(file).min(version) plan
    Snapshots.commit(spark,
      (1L to 120L).map(i => (i, s"r$i")).toDF("id", "s").repartition(12), root)
    (2 to 16).foreach { b =>
      Snapshots.append(spark,
        (1L to 120L).map(i => (b * 1000L + i, s"r$i")).toDF("id", "s")
          .repartition(12), root)
    }
    val lin = Snapshots.fileLineage(spark, root)
    val byVersion = lin.groupBy("since_version").count()
      .as[(Long, Long)].collect().toMap
    assert(byVersion.keySet === (1L to 16L).toSet)
    assert(byVersion.values.forall(_ === 12L),
      s"each version introduced exactly its 12 files: $byVersion")
    assert(lin.count() === 16L * 12L)
  }

  // --- selective OPTIMIZE: compact the small-file tail, not the table ---

  test("optimize is selective: full-size files carry by reference, only debt rewrites") {
    import spark.implicits._
    val root = tmpDir("snap_opt_sel")
    // two FULL-SIZE files plus six tiny append batches — the daily
    // micro-batch accretion shape
    Snapshots.commitWithStats(spark,
      (1L to 60000L).map(i => (i, s"row-with-some-padding-$i"))
        .toDF("id", "s").repartitionByRange(2, col("id"))
        .sortWithinPartitions("id"),
      root, Seq("id"))
    (1 to 6).foreach { b =>
      Snapshots.append(spark,
        Seq((100000L + b, s"tiny$b")).toDF("id", "s").coalesce(1),
        root, Seq("id"))
    }
    val before = Snapshots.read(spark, root)
    val beforeFiles = Snapshots.filesOfVersion(spark, root, 7L)
    val sizes = beforeFiles.map(p =>
      new java.io.File(new java.net.URI(
        if (p.startsWith("file:")) p else s"file:$p").getPath).length())
    val target = 64L * 1024
    val nBig = sizes.count(_ >= target)
    val nSmall = sizes.count(_ < target)
    assert(nBig === 2 && nSmall === 6, s"layout drifted: $sizes")
    val r = Snapshots.optimize(spark, root, targetBytes = target,
      statsCols = Seq("id"))
    // ONLY the small tail rewrote; the big files are carried verbatim
    assert(r.filesRewritten === nSmall)
    assert(r.filesTotal === nBig + nSmall)
    val afterFiles = Snapshots.filesOfVersion(spark, root, r.version)
    val carried = beforeFiles.toSet.intersect(afterFiles.toSet)
    assert(carried.size === nBig,
      s"big files must carry by path: kept ${carried.size} of $nBig")
    assert(afterFiles.size === nBig + 1, "six tiny files compact into one")
    // data identical both ways
    val after = Snapshots.read(spark, root, Some(r.version))
    assert(before.exceptAll(after).count() === 0L &&
      after.exceptAll(before).count() === 0L)
    // the skipping index survives: carried rows verbatim + fresh build
    val (pr, nRead, nTotal) = Snapshots.readPruned(
      spark, root, Some(r.version), "id", Some(lit(1L)), Some(lit(10L)))
    assert(pr.count() === 10L)
    assert(nRead < nTotal)
    // a second OPTIMIZE finds one sub-target file and no vector:
    // nothing to merge, NOTHING published
    val r2 = Snapshots.optimize(spark, root, targetBytes = target)
    assert(r2.version === r.version && r2.filesRewritten === 0)
    assert(Snapshots.latestVersion(spark, root) === Some(r.version))
  }

  test("optimize with a vector rewrites dv files regardless of size") {
    import spark.implicits._
    val root = tmpDir("snap_opt_dv")
    Snapshots.commitWithStats(spark,
      (1L to 60000L).map(i => (i, s"row-with-some-padding-$i"))
        .toDF("id", "s").repartitionByRange(2, col("id"))
        .sortWithinPartitions("id"),
      root, Seq("id"))
    val d = Snapshots.deleteWhere(spark, root, col("id") === 7L)
    assert(d.rowsDeleted === 1L)
    val logical = Snapshots.read(spark, root)
    val r = Snapshots.optimize(spark, root, targetBytes = 64L * 1024)
    // only the dv-carrying file rewrote; the clean big file carried
    assert(r.filesRewritten === 1 && r.filesTotal === 2)
    val m = Snapshots.versionMeta(spark, root, r.version)
    assert(m.dv.isEmpty, "optimize materializes the vector away")
    val after = Snapshots.read(spark, root, Some(r.version))
    assert(logical.exceptAll(after).count() === 0L &&
      after.exceptAll(logical).count() === 0L)
    assert(m.nRows === 59999L)
  }

  // --- merge-on-read UPDATE ---

  test("updateWhere rewrites zero pre-existing files; reads see the update") {
    import spark.implicits._
    val root = tmpDir("snap_upd")
    Snapshots.commitWithStats(spark,
      (1L to 100L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    val beforeFiles = Snapshots.filesOfVersion(spark, root, 1L).toSet
    val r = Snapshots.updateWhere(spark, root, col("id") % 10 === 3,
      Seq("s" -> concat(col("s"), lit("-UPD"))))
    assert(r.version === 2L && r.rowsUpdated === 10L)
    // every pre-existing file carried by reference
    val afterFiles = Snapshots.filesOfVersion(spark, root, 2L).toSet
    assert(beforeFiles.subsetOf(afterFiles),
      "updateWhere must never rewrite a pre-existing file")
    assert((afterFiles -- beforeFiles).nonEmpty, "fresh dir carries the updates")
    val m = Snapshots.versionMeta(spark, root, 2L)
    assert(m.dv.isDefined && m.nRows === 100L)
    val rows = Snapshots.read(spark, root).as[(Long, String)].collect().toMap
    assert(rows.size === 100)
    assert(rows(3L) === "r3-UPD" && rows(13L) === "r13-UPD")
    assert(rows(4L) === "r4")
    // old positions died by vector; no duplicates
    assert(Snapshots.read(spark, root)
      .groupBy("id").count().filter(col("count") > 1).count() === 0L)
    // a no-match update publishes nothing
    val r2 = Snapshots.updateWhere(spark, root, col("id") > 1000000L,
      Seq("s" -> lit("x")))
    assert(r2.version === 2L && r2.rowsUpdated === 0L)
  }

  test("updateWhere composes with prior deletes and honors constraints") {
    import spark.implicits._
    val root = tmpDir("snap_upd_dv")
    Snapshots.commitWithStats(spark, df(20), root, Seq("id"))
    Snapshots.addConstraint(spark, root, "s_nonempty", "length(s) > 0")
    Snapshots.deleteWhere(spark, root, col("id") === 5L)
    // the deleted row must NOT resurrect as an update
    val r = Snapshots.updateWhere(spark, root, col("id") <= 6L,
      Seq("s" -> upper(col("s"))))
    assert(r.rowsUpdated === 5L, "id=5 is deleted; 1,2,3,4,6 update")
    val rows = Snapshots.read(spark, root).as[(Long, String)].collect().toMap
    assert(!rows.contains(5L))
    assert(rows(6L) === "R6" && rows(7L) === "r7")
    // an update violating a CHECK refuses and leaves the table intact
    val vBefore = Snapshots.latestVersion(spark, root)
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, root, col("id") === 7L,
        Seq("s" -> lit("")))
    }
    assert(Snapshots.latestVersion(spark, root) === vBefore)
    assert(Snapshots.read(spark, root).as[(Long, String)]
      .collect().toMap.apply(7L) === "r7")
  }

  // --- vacuum honors the catalog/clone retention contract ---

  test("vacuum protectedVersions: a pinned old version survives keepLast") {
    val root = tmpDir("snap_vac_prot")
    Snapshots.commit(spark, df(3), root)  // v1 — "pinned"
    Snapshots.commit(spark, df(5), root)  // v2 — unpinned
    Snapshots.commit(spark, df(7), root)  // v3 — latest
    Snapshots.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0,
      protectedVersions = Set(1L))
    assert(Snapshots.versions(spark, root) === Seq(1L, 3L),
      "v1 is protected, v2 reclaims, v3 is retained")
    assert(Snapshots.read(spark, root, Some(1L)).count() === 3L)
    assert(Snapshots.read(spark, root).count() === 7L)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, root, Some(2L)).count()
    }
  }

  // --- timestamp-addressed CDF ---

  test("changesAsOf resolves bounds through commit-file mtimes") {
    import spark.implicits._
    val root = tmpDir("snap_cdf_ts")
    Snapshots.commit(spark, df(4), root)
    Thread.sleep(1100)
    val t1 = System.currentTimeMillis()
    Thread.sleep(1100)
    Snapshots.append(spark, Seq((10L, "a"), (11L, "b")).toDF("id", "s"), root)
    val t2 = System.currentTimeMillis()
    val cs = Snapshots.changesAsOf(spark, root, t1, t2)
    val rows = cs.df.orderBy("id").as[(Long, String, String)].collect()
    assert(rows === Array((10L, "a", "insert"), (11L, "b", "insert")))
    // both bounds before the append: empty diff of v1 with itself
    assert(Snapshots.changesAsOf(spark, root, t1, t1).df.count() === 0L)
  }

  // --- partitioned snapshot tables ---

  test("partitioned commit: reads stay exact, appends keep the layout, writers compose") {
    import spark.implicits._
    val root = tmpDir("snap_part")
    val base = (1L to 90L).map(i => (i, s"g${i % 3}", s"r$i"))
      .toDF("id", "grp", "s")
    Snapshots.commit(spark, base, root, partitionBy = Seq("grp"))
    assert(Snapshots.versionMeta(spark, root, 1L).parts === Seq("grp"))
    // files land under __p_grp=<v> dirs AND still carry the column
    val files = Snapshots.filesOfVersion(spark, root, 1L)
    assert(files.forall(_.contains("__p_grp=")), s"unpartitioned layout: $files")
    val got = Snapshots.read(spark, root)
    assert(got.columns.toSeq === Seq("id", "grp", "s"),
      "partition path keys must not leak as columns")
    assert(got.exceptAll(base).count() === 0L &&
      base.exceptAll(got).count() === 0L)
    // append inherits the layout
    Snapshots.append(spark,
      Seq((1000L, "g7", "x")).toDF("id", "grp", "s"), root)
    val v2files = Snapshots.filesOfVersion(spark, root, 2L)
    assert(v2files.exists(_.contains("__p_grp=g7")))
    assert(Snapshots.read(spark, root).count() === 91L)
    // merge-on-read delete and CDF compose (explicit-file readers see
    // the partition column because the files carry it)
    Snapshots.deleteWhere(spark, root, col("grp") === "g7")
    assert(Snapshots.read(spark, root).count() === 90L)
    val cs = Snapshots.changes(spark, root, 1L, 3L)
    assert(cs.df.count() === 0L, "append then delete of it nets to zero")
  }

  test("vacuum on a partitioned table keeps live nested data dirs") {
    import spark.implicits._
    val root = tmpDir("snap_part_vac")
    Snapshots.commit(spark,
      (1L to 30L).map(i => (i, s"g${i % 3}")).toDF("id", "grp"),
      root, partitionBy = Seq("grp"))
    Snapshots.append(spark, Seq((100L, "g9")).toDF("id", "grp"), root)
    Snapshots.append(spark, Seq((101L, "g9")).toDF("id", "grp"), root)
    // grace 0: an unpinned dir would reclaim IMMEDIATELY — the live
    // manifest's partitioned dirs must survive
    Snapshots.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0)
    assert(Snapshots.read(spark, root).count() === 32L,
      "vacuum deleted data a live manifest references")
    assert(Snapshots.read(spark, root).filter(col("grp") === "g0").count() === 10L)
  }

  test("a full-replace commit inherits the table's partition layout") {
    import spark.implicits._
    val root = tmpDir("snap_part_inherit")
    Snapshots.commit(spark,
      (1L to 30L).map(i => (i, s"g${i % 3}")).toDF("id", "grp"),
      root, partitionBy = Seq("grp"))
    // overwrite WITHOUT naming a layout: parts must ride forward
    Snapshots.commit(spark,
      (1L to 10L).map(i => (i, s"g${i % 2}")).toDF("id", "grp"), root)
    assert(Snapshots.versionMeta(spark, root, 2L).parts === Seq("grp"))
    assert(Snapshots.filesOfVersion(spark, root, 2L)
      .forall(_.contains("__p_grp=")))
    // an explicit partitionBy redefines it
    Snapshots.commit(spark,
      (1L to 10L).map(i => (i, s"g${i % 2}")).toDF("id", "grp"),
      root, partitionBy = Seq("id"))
    assert(Snapshots.versionMeta(spark, root, 3L).parts === Seq("id"))
  }

  test("empty-string partition values are never pruned as null") {
    import spark.implicits._
    val root = tmpDir("snap_part_empty")
    // Spark writes '' to the SAME default-partition dir as null —
    // the path value is ambiguous, so the planner must keep the file
    Snapshots.commit(spark,
      Seq((1L, ""), (2L, "g1"), (3L, null)).toDF("id", "grp"),
      root, partitionBy = Seq("grp"))
    val (df, _) = Snapshots.sqlScan(spark, root)
    assert(df.filter(col("grp") === "").select("id")
      .as[Long].collect().toSeq === Seq(1L),
      "the '' row was pruned away with the null marker")
    assert(df.filter(col("grp").isNull).select("id")
      .as[Long].collect().toSeq === Seq(3L))
    assert(df.filter(col("grp") === "g1").select("id")
      .as[Long].collect().toSeq === Seq(2L))
  }

  test("partitioned sqlScan: partition pruning fires first, stats skip on a second column") {
    import spark.implicits._
    val root = tmpDir("snap_part_prune")
    val base = (1L to 9000L).map(i => (i, s"g${i % 3}", s"r$i"))
      .toDF("id", "grp", "s")
    // 3 partitions x 4 range-clustered files each
    Snapshots.commit(spark,
      base.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, partitionBy = Seq("grp"))
    val m = Snapshots.versionMeta(spark, root, 1L)
    // build the per-file stats for the id column (partitioned commit
    // composes with the usual stats hook)
    val (df0, idx0) = Snapshots.sqlScan(spark, root)
    val total = idx0.inputFiles.length
    assert(total === 12, s"expected 3x4 files, got $total")
    // partition-only filter: NO stats table exists yet — any prune is
    // the path-value check
    df0.filter(col("grp") === "g1").agg(count(lit(1))).head()
    assert(idx0.lastPartitionKept === Some(4),
      s"partition pruning must keep exactly one partition: ${idx0.lastPartitionKept}")
    assert(idx0.lastScan === Some((4, 12)))
    // now with stats: both prunes compose — partition first, then
    // id range stats inside the partition
    val stats = graft.etl.StatsIndex.build(spark,
      s"$root/data/${m.layoutId}", Seq("id"))
    // persist under the layout's stats path; sqlScan picks it up
    graft.etl.Load.writeAtomic(spark, stats,
      s"$root/_stats/${m.layoutId}")
    val (df1, idx1) = Snapshots.sqlScan(spark, root)
    val n = df1.filter(col("grp") === "g1" && col("id") <= 700L)
      .agg(count(lit(1))).head().getLong(0)
    assert(n === base.filter(col("grp") === "g1" && col("id") <= 700L).count())
    assert(idx1.lastPartitionKept === Some(4))
    val (kept, tot) = idx1.lastScan.get
    assert(tot === 12 && kept < 4,
      s"stats must prune inside the surviving partition: kept $kept")
  }

  test("format features gate: unknown-feature versions refuse loudly") {
    val root = tmpDir("snap_feat")
    val df = (1L to 20L).map(i => (i, s"r$i")).toDF("id", "s")
    Snapshots.commit(spark, df, root)
    // a version that USES a known feature parses and reads fine
    Snapshots.deleteWhere(spark, root, col("id") === 1L)
    assert(Snapshots.read(spark, root).count() === 19L)
    // a version demanding a FUTURE feature refuses instead of
    // silently mis-reading (the Delta reader-version discipline)
    val vf = java.nio.file.Paths.get(root, "_versions", "v00000003.json")
    java.nio.file.Files.write(vf,
      """{"version":3,"data_dir":"data/ghost","n_rows":0,"features":["row_tracking_v9"]}"""
        .getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      Snapshots.read(spark, root)
    }
    assert(e.getMessage.contains("row_tracking_v9"))
    assert(e.getMessage.contains("upgrade"))
    // older versions stay readable — the gate is per-version
    assert(Snapshots.read(spark, root, Some(1L)).count() === 20L)
    // the AUDIT verb stays usable past the gate: the unreadable
    // version surfaces as a marked row instead of killing the whole
    // history (Delta keeps DESCRIBE HISTORY viewable the same way)
    val hist = Snapshots.history(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(hist(3L) === "unsupported(features)")
    assert(hist(1L) === "dir" && hist(2L) === "dir")
  }

  test("names the version-log parser cannot round-trip refuse at the API") {
    val root = tmpDir("snap_loggable")
    val df = (1L to 10L).map(i => (i, s"r$i")).toDF("id", "s")
    Snapshots.commit(spark, df, root)
    // a ']' inside a logged identifier would serialize fine but
    // silently truncate the [^\]]* array parse on read — colmap
    // degrading to identity (dropped bytes resurrecting), bucket
    // parsing to None (untagged files into a tagged layout)
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, root, "s", "s]x")
    }
    assert(e1.getMessage.contains("round-trip"))
    intercept[IllegalArgumentException] {
      Snapshots.addColumn(spark, root, "a]b", "STRING")
    }
    intercept[IllegalArgumentException] {
      Snapshots.Bucketing(4, Seq("k]0"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.Bucketing(4, Seq("k"), Seq("s]ort"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.commit(spark, df.withColumn("p]1", col("s")), root,
        partitionBy = Seq("p]1"))
    }
    // newlines break the one-line log the same way
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, root, "s", "a\nb")
    }
    // nothing above published: the table is untouched
    assert(Snapshots.versions(spark, root) === Seq(1L))
  }

  test("mergeClauses: conditional update, delete, insert — first clause wins") {
    import Snapshots.{MatchedDelete, MatchedUpdate}
    val root = tmpDir("snap_mc")
    val base = (1L to 400L).map(i => (i, s"s${i % 4}", i * 1.0))
      .toDF("id", "status", "amount")
    Snapshots.commitWithStats(spark,
      base.repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    // source: ids 1..40 (matched) + 1001..1010 (unmatched)
    val src = (1L to 40L).map(i => (i, "upd", i * 10.0))
      .++((1001L to 1010L).map(i => (i, "new", 1.0)))
      .toDF("id", "status", "amount")
    val r = Snapshots.mergeClauses(spark, src, root, "id", Seq("id"),
      "t", "u",
      Seq(
        // first clause wins: ids % 10 == 0 delete, the rest update
        MatchedDelete(Some(expr("u.id % 10 = 0"))),
        MatchedUpdate(Some(expr("t.amount < 30.0")),
          Some(Seq("amount" -> expr("t.amount + u.amount")))),
        MatchedUpdate(None, None)), // SET * for the remaining matched
      Some(Some(expr("u.id % 2 = 1"))))
    assert(r.version === 2L)
    assert(r.rowsDeleted === 4L)   // 10,20,30,40
    assert(r.rowsUpdated === 36L)  // the other matched ids
    assert(r.rowsInserted === 5L)  // odd ids of 1001..1010
    assert(r.filesRewritten > 0 && r.filesRewritten < r.filesTotal,
      s"bounded rewrite expected, got ${r.filesRewritten}/${r.filesTotal}")
    val after = Snapshots.read(spark, root)
    assert(after.count() === 400L - 4L + 5L)
    // deleted
    assert(after.filter(col("id").isin(10L, 20L, 30L, 40L)).count() === 0L)
    // assignment clause: t.amount < 30 → amount += u.amount (id<30, not %10)
    assert(after.filter(col("id") === 7L).select("amount", "status")
      .head() === org.apache.spark.sql.Row(77.0, "s3"))
    // SET * clause: matched, amount >= 30, not deleted (e.g. id 33)
    assert(after.filter(col("id") === 33L).select("amount", "status")
      .head() === org.apache.spark.sql.Row(330.0, "upd"))
    // conditional insert: 1001 in, 1002 out
    assert(after.filter(col("id") === 1001L).count() === 1L)
    assert(after.filter(col("id") === 1002L).count() === 0L)
    // untouched rows survive verbatim
    assert(after.filter(col("id") === 399L).select("amount").head()
      .getDouble(0) === 399.0)
  }

  test("replacePartition: disjoint reloads REBASE — one staged write each") {
    val root = tmpDir("snap_occ_rebase")
    val df = (1L to 300L).map(i => (i, s"g${i % 3}", i * 1.0))
      .toDF("id", "grp", "x")
    Snapshots.commitWithStats(spark,
      df.repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      root, Seq("id"), partitionBy = Seq("grp"))
    val reload = (g: String, bump: Double) => df.filter(col("grp") === g)
      .withColumn("x", col("x") + lit(bump))
    val rb0 = Snapshots.rebases.get(); val rs0 = Snapshots.restages.get()
    // between writer-A's staging and its publish, writer-B reloads a
    // DISJOINT partition and wins the version race
    var bResult: Option[Snapshots.CowResult] = None
    Snapshots.racePublishHook = Some(() => {
      bResult = Some(Snapshots.replacePartition(spark, reload("g1", 1000.0),
        root, Map("grp" -> lit("g1")), Seq("id")))
    })
    val a = Snapshots.replacePartition(spark, reload("g2", 2000.0),
      root, Map("grp" -> lit("g2")), Seq("id"))
    assert(bResult.get.version === 2L)
    assert(a.version === 3L, "the loser must land at the rebased version")
    assert(Snapshots.rebases.get() === rb0 + 1, "one manifest re-base")
    assert(Snapshots.restages.get() === rs0, "zero re-staged writes")
    // both reloads applied, g0 untouched
    val after = Snapshots.read(spark, root)
    assert(after.filter(col("grp") === "g0" && col("x") > 500.0).count() === 0L)
    assert(after.filter(col("grp") === "g1").agg(min("x")).head().getDouble(0) > 1000.0)
    assert(after.filter(col("grp") === "g2").agg(min("x")).head().getDouble(0) > 2000.0)
    assert(after.count() === 300L)
    // B's fresh files carried by reference into A's manifest
    val v2Fresh = Snapshots.filesOfVersion(spark, root, 2L)
      .filterNot(Snapshots.filesOfVersion(spark, root, 1L).toSet)
    assert(v2Fresh.nonEmpty &&
      v2Fresh.forall(Snapshots.filesOfVersion(spark, root, 3L).toSet))
    // stats survive the rebase: the pruned read still bites
    val (_, nRead, nTotal) = Snapshots.readPruned(spark, root, None,
      "id", Some(lit(1L)), Some(lit(50L)))
    assert(nRead < nTotal)
  }

  test("replacePartition: a conflicting write into the SAME partition re-stages") {
    val root = tmpDir("snap_occ_conflict")
    val df = (1L to 200L).map(i => (i, s"g${i % 2}", i * 1.0))
      .toDF("id", "grp", "x")
    Snapshots.commitWithStats(spark,
      df.repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      root, Seq("id"), partitionBy = Seq("grp"))
    val rb0 = Snapshots.rebases.get(); val rs0 = Snapshots.restages.get()
    // the racer APPENDS INTO the partition A is replacing — a true
    // conflict: A must re-stage against the new latest, and its
    // replace must win over the concurrent append's rows
    Snapshots.racePublishHook = Some(() => {
      Snapshots.append(spark,
        Seq((9001L, "g1", 9.0)).toDF("id", "grp", "x"), root, Seq("id"))
    })
    val a = Snapshots.replacePartition(spark,
      df.filter(col("grp") === "g1").withColumn("x", col("x") + lit(5000.0)),
      root, Map("grp" -> lit("g1")), Seq("id"))
    assert(a.version === 3L)
    assert(Snapshots.restages.get() === rs0 + 1, "conflict must re-stage")
    assert(Snapshots.rebases.get() === rb0)
    val after = Snapshots.read(spark, root)
    // the replace REPLACED the partition — the racer's g1 row is gone
    assert(after.filter(col("id") === 9001L).count() === 0L)
    assert(after.filter(col("grp") === "g1").count() === 100L)
    assert(after.filter(col("grp") === "g1").agg(min("x")).head()
      .getDouble(0) > 5000.0)
  }

  test("replacePartitions: cap, empty no-op, null tuple conservative by path but exact by value") {
    val root = tmpDir("snap_dynpart")
    val base = Seq((1L, "g1"), (2L, "g2"), (3L, null.asInstanceOf[String]))
      .toDF("id", "grp")
    Snapshots.commitWithStats(spark, base, root, Seq("id"),
      partitionBy = Seq("grp"))
    // the dynamic-partition guard (Hive's): a reload wider than the
    // cap refuses before touching anything
    val err = intercept[IllegalArgumentException] {
      Snapshots.replacePartitions(spark,
        Seq((10L, "g1"), (20L, "g2")).toDF("id", "grp"), root,
        Seq("grp"), Seq("id"), maxPartitions = 1)
    }
    assert(err.getMessage.contains("cap"), err.getMessage)
    assert(Snapshots.latestVersion(spark, root) === Some(1L))
    // empty batch: replaces nothing, commits nothing
    val r0 = Snapshots.replacePartitions(spark, base.filter(lit(false)),
      root, Seq("grp"), Seq("id"))
    assert(r0.version === 1L && r0.rowsWritten === 0L)
    assert(Snapshots.latestVersion(spark, root) === Some(1L))
    // a NULL dynamic tuple replaces the null partition BY VALUE; the
    // path marker is ambiguous so no file classifies as provably
    // different, and everything rewrites conservatively — values exact
    val r1 = Snapshots.replacePartitions(spark,
      Seq((30L, null.asInstanceOf[String])).toDF("id", "grp"), root,
      Seq("grp"), Seq("id"))
    assert(r1.version === 2L && r1.rowsWritten === 3L)
    val got = Snapshots.read(spark, root).orderBy("id")
      .as[(Long, String)].collect()
    assert(got === Array((1L, "g1"), (2L, "g2"), (30L, null)))
  }

  test("replacePartitions: disjoint dynamic reloads REBASE through the shared OCC path") {
    val root = tmpDir("snap_dynpart_occ")
    val df = (1L to 120L).map(i => (i, s"g${i % 4}", i * 1.0))
      .toDF("id", "grp", "x")
    Snapshots.commitWithStats(spark,
      df.repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      root, Seq("id"), partitionBy = Seq("grp"))
    val rb0 = Snapshots.rebases.get(); val rs0 = Snapshots.restages.get()
    // the racer dynamically reloads {g1}; A dynamically reloads
    // {g2,g3} — disjoint tuple sets, so A re-bases: one staged write
    // each, no re-stage
    var bResult: Option[Snapshots.CowResult] = None
    Snapshots.racePublishHook = Some(() => {
      bResult = Some(Snapshots.replacePartitions(spark,
        df.filter(col("grp") === "g1").withColumn("x", col("x") + 1000.0),
        root, Seq("grp"), Seq("id")))
    })
    val a = Snapshots.replacePartitions(spark,
      df.filter(col("grp").isin("g2", "g3"))
        .withColumn("x", col("x") + 2000.0),
      root, Seq("grp"), Seq("id"))
    assert(bResult.map(_.version) === Some(2L) && a.version === 3L)
    assert(Snapshots.rebases.get() === rb0 + 1, "disjoint tuples must re-base")
    assert(Snapshots.restages.get() === rs0)
    val after = Snapshots.read(spark, root)
    assert(after.count() === 120L)
    assert(after.filter(col("grp") === "g1").agg(min("x")).head()
      .getDouble(0) > 1000.0)
    assert(after.filter(col("grp").isin("g2", "g3")).agg(min("x")).head()
      .getDouble(0) > 2000.0)
    assert(after.filter(col("grp") === "g0").agg(max("x")).head()
      .getDouble(0) < 1000.0, "the untouched partition keeps its rows")
  }

  test("create publishes at EXACTLY v1 — racing CREATEs yield one winner + one loud refusal") {
    val root = tmpDir("snap_create")
    val a = Seq((1L, "a")).toDF("id", "s")
    assert(Snapshots.create(spark, a, root) === 1L)
    // a second CREATE refuses up front
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.create(spark, a, root)
    }
    assert(e1.getMessage.contains("already has committed versions"))
    // the RACE window (winner lands between the loser's check and its
    // publish): the loser must refuse loudly — never land at v2 as a
    // silent full replace (the old publishNext behavior)
    val root2 = tmpDir("snap_create_race")
    Snapshots.racePublishHook = Some(() => {
      Snapshots.create(spark, Seq((9L, "winner")).toDF("id", "s"), root2)
    })
    val e2 = intercept[IllegalStateException] {
      Snapshots.create(spark, Seq((1L, "loser")).toDF("id", "s"), root2)
    }
    assert(e2.getMessage.contains("created concurrently"))
    assert(Snapshots.versions(spark, root2) === Seq(1L))
    assert(Snapshots.read(spark, root2).head().getString(1) === "winner")
    // the loser's staged dir is cleaned up (no orphan awaiting vacuum)
    val dirs = new java.io.File(s"$root2/data").listFiles().map(_.getName)
    assert(dirs.length === 1, dirs.mkString(","))
    // same exclusivity for SHALLOW CLONE
    val dst = tmpDir("snap_clone_race")
    Snapshots.racePublishHook = Some(() => {
      Snapshots.commit(spark, Seq((8L, "x")).toDF("id", "s"), dst)
    })
    intercept[IllegalStateException] {
      Snapshots.cloneShallow(spark, root, dst)
    }
    assert(Snapshots.read(spark, dst).head().getLong(0) === 8L)
  }

  test("DROP TABLE: tombstone death — reads/writes refuse, RESTORE undrops, vacuum reclaims") {
    val root = tmpDir("snap_drop")
    Snapshots.commit(spark, df(5), root)
    Snapshots.append(spark, df(3), root)
    val tomb = Snapshots.dropTable(spark, root)
    assert(tomb === 3L)
    // latest reads and every write verb refuse loudly
    assert(intercept[IllegalArgumentException] {
      Snapshots.read(spark, root)
    }.getMessage.contains("DROPPED"))
    intercept[IllegalArgumentException] {
      Snapshots.append(spark, df(1), root)
    }
    intercept[IllegalArgumentException] {
      Snapshots.commit(spark, df(1), root)
    }
    intercept[IllegalArgumentException] {
      Snapshots.tableSchema(spark, root)
    }
    intercept[IllegalArgumentException] {
      Snapshots.dropTable(spark, root) // double drop
    }
    // pre-drop versions stay explicitly readable (time travel)
    assert(Snapshots.read(spark, root, Some(2L)).count() === 8L)
    // the audit surface shows the tombstone honestly
    val h = Snapshots.history(spark, root).orderBy("version").collect()
    assert(h.map(_.getString(1)).toSeq === Seq("dir", "manifest", "tombstone"))
    assert(h.last.getLong(2) === 0L)
    // RESTORE (rollback to a pre-drop version) is the undrop
    val revived = Snapshots.rollback(spark, root, 2L)
    assert(Snapshots.read(spark, root).count() === 8L)
    // CREATE refuses on the revived (live) table again
    intercept[IllegalArgumentException] {
      Snapshots.create(spark, df(1), root)
    }
    // drop again, then CREATE revives as the tombstone's successor
    Snapshots.dropTable(spark, root)
    val reborn = Snapshots.create(spark,
      Seq((42L, 1.0)).toDF("k", "v"), root)
    assert(reborn === revived + 2)
    assert(Snapshots.read(spark, root).columns.toSeq === Seq("k", "v"))
    // death then physical reclaim through the EXISTING vacuum: drop
    // and vacuum to the tombstone — every data dir goes
    Snapshots.dropTable(spark, root)
    Snapshots.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0L)
    val dataDir = new java.io.File(s"$root/data")
    assert(!dataDir.exists() || dataDir.listFiles().isEmpty,
      "a vacuumed tombstone must reclaim every data dir")
  }

  test("shallow clone revives a dropped destination (DROP then CLONE works)") {
    val src = tmpDir("snap_clone_src")
    val dst = tmpDir("snap_clone_dst")
    Snapshots.commit(spark, df(5), src)
    Snapshots.commit(spark, df(2), dst)
    // a LIVE destination still refuses…
    intercept[IllegalArgumentException] {
      Snapshots.cloneShallow(spark, src, dst)
    }
    // …but DROP TABLE then CLONE re-points the root (the documented
    // path for re-using a destination)
    Snapshots.dropTable(spark, dst)
    val v = Snapshots.cloneShallow(spark, src, dst)
    assert(v === 3L, "the clone lands at the tombstone's successor")
    assert(Snapshots.read(spark, dst).count() === 5L)
    // pre-drop destination history stays readable
    assert(Snapshots.read(spark, dst, Some(1L)).count() === 2L)
  }

  test("replaceTable: CREATE OR REPLACE semantics — redefines in place, history intact") {
    val root = tmpDir("snap_or_replace")
    Snapshots.commit(spark, df(5), root, partitionBy = Nil)
    Snapshots.addConstraint(spark, root, "id_pos", "id > 0")
    // the replace REDEFINES: new schema, new layout, prior constraints
    // do not carry (it is a new table in place)
    val v = Snapshots.replaceTable(spark,
      (1L to 10L).map(i => (i, s"g${i % 2}", i * 1.0)).toDF("id", "grp", "x"),
      root, partitionBy = Seq("grp"))
    assert(v === 3L)
    assert(Snapshots.constraintsOf(spark, root).isEmpty)
    assert(Snapshots.versionMeta(spark, root, v).parts === Seq("grp"))
    // history preserved: the old shape stays readable
    assert(Snapshots.read(spark, root, Some(1L)).columns.toSeq === Seq("id", "s"))
    // works on a DROPPED table too (the revive shape)
    Snapshots.dropTable(spark, root)
    val v2 = Snapshots.replaceTable(spark, df(2), root)
    assert(Snapshots.read(spark, root).count() === 2L)
    assert(v2 === 5L)
  }

  test("mergeClauses: WHEN NOT MATCHED BY SOURCE — dimension sync, honest full scan") {
    val root = tmpDir("snap_nmbs")
    val base = (1L to 100L).map(i => (i, i * 1.0, "live")).toDF("id", "x", "status")
    Snapshots.commitWithStats(spark,
      base.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    // feed carries ids 1..40 plus a new id 500; target rows 41..100
    // are ABSENT from the feed: 41..60 expire (cond), 61..100 delete
    val src = ((1L to 40L).map(i => (i, i * 2.0, "live")) :+ ((500L, 5.0, "live")))
      .toDF("id", "x", "status")
    val r = Snapshots.mergeClauses(spark, src, root, "id", Seq("id"),
      "t", "u",
      matched = Seq(Snapshots.MatchedUpdate(None, None)),
      insertCond = Some(None),
      notMatchedBySource = Seq(
        Snapshots.MatchedUpdate(Some(col("t.id") <= 60L),
          Some(Seq("status" -> lit("expired")))),
        Snapshots.MatchedDelete(None)))
    assert(r.rowsUpdated === 40L + 20L, "matched updates + expirations")
    assert(r.rowsDeleted === 40L)
    assert(r.rowsInserted === 1L)
    // the honest receipt: every file rewrote (O(table) by nature)
    assert(r.filesRewritten === r.filesTotal)
    val after = Snapshots.read(spark, root)
    assert(after.count() === 61L)
    assert(after.filter(col("status") === "expired").count() === 20L)
    assert(after.filter(col("id") === 20L).head().getDouble(1) === 40.0)
    assert(after.filter(col("id") > 60L && col("id") < 500L).count() === 0L)
    // NMBS UPDATE without SET refuses (no source row for SET *)
    intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark, src, root, "id", Seq("id"), "t", "u",
        matched = Nil, insertCond = None,
        notMatchedBySource = Seq(Snapshots.MatchedUpdate(None, None)))
    }
  }

  test("NMBS clauses bind to a source-free frame: source refs refuse, bare names resolve") {
    // pins the r17 fusion's scope: statements WITH NOT MATCHED BY
    // SOURCE clauses keep the r16 two-join shape, whose kept frame
    // carries NO source columns — so a source-alias reference (or a
    // bare source-only discriminator) fails analysis per the
    // target-columns-only contract, instead of silently evaluating
    // over NULLs on the fused left-outer frame; bare TARGET names
    // keep resolving unambiguously
    val root = tmpDir("snap_nmbs_bind")
    Snapshots.commitWithStats(spark,
      (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "x"), root, Seq("id"))
    val src = Seq((5L, 500.0)).toDF("id", "x")
    intercept[org.apache.spark.sql.AnalysisException] {
      Snapshots.mergeClauses(spark, src, root, "id", Seq("id"), "t", "u",
        matched = Seq(Snapshots.MatchedUpdate(None, None)),
        insertCond = Some(None),
        notMatchedBySource = Seq(
          Snapshots.MatchedDelete(Some(col("u.x") > 0.0))))
    }
    // a source-only discriminator referenced by BARE name refuses too
    intercept[org.apache.spark.sql.AnalysisException] {
      Snapshots.mergeClauses(spark,
        src.withColumn("flag", lit(1)), root, "id", Seq("id"), "t", "u",
        matched = Seq(Snapshots.MatchedUpdate(Some(col("u.flag") === 1),
          Some(Seq("x" -> col("u.x"))))),
        insertCond = None,
        notMatchedBySource = Seq(
          Snapshots.MatchedDelete(Some(col("flag") === 1))))
    }
    // the refusals committed nothing
    assert(Snapshots.latestVersion(spark, root) === Some(1L))
    // bare target-column names keep resolving
    val r = Snapshots.mergeClauses(spark, src, root, "id", Seq("id"),
      "t", "u",
      matched = Seq(Snapshots.MatchedUpdate(None, None)),
      insertCond = Some(None),
      notMatchedBySource = Seq(
        Snapshots.MatchedDelete(Some(col("id") > 18L))))
    assert(r.rowsDeleted === 2L && r.rowsUpdated === 1L)
    assert(Snapshots.read(spark, root).count() === 18L)
  }

  test("mergeClauses: column-subset source — SET * keeps unnamed columns, INSERT * NULL-fills") {
    val root = tmpDir("snap_subset")
    val base = (1L to 50L).map(i => (i, i * 1.0, s"s$i")).toDF("id", "x", "s")
    Snapshots.commitWithStats(spark,
      base.repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    // the real upsert-feed shape: (key, changed-col) only
    val feed = Seq((7L, 700.0), (9000L, 9.0)).toDF("id", "x")
    val r = Snapshots.mergeClauses(spark, feed, root, "id", Seq("id"),
      "t", "u", matched = Seq(Snapshots.MatchedUpdate(None, None)),
      insertCond = Some(None))
    assert(r.rowsUpdated === 1L && r.rowsInserted === 1L)
    assert(r.filesRewritten < r.filesTotal, "subset merge stays stats-targeted")
    val after = Snapshots.read(spark, root)
    val u = after.filter(col("id") === 7L).head()
    assert(u.getDouble(1) === 700.0 && u.getString(2) === "s7",
      "unnamed columns keep their target values on UPDATE")
    val i = after.filter(col("id") === 9000L).head()
    assert(i.getDouble(1) === 9.0 && i.isNullAt(2),
      "unnamed columns NULL-fill on INSERT")
    // an extra (non-table) source column still refuses loudly
    intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark,
        Seq((1L, 1.0)).toDF("id", "nope"), root, "id", Seq("id"),
        "t", "u", matched = Seq(Snapshots.MatchedUpdate(None, None)),
        insertCond = Some(None))
    }
    // and a key-less source refuses
    intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark,
        Seq(1.0).toDF("x"), root, "id", Seq("id"),
        "t", "u", matched = Seq(Snapshots.MatchedUpdate(None, None)),
        insertCond = Some(None))
    }
  }

  test("mergeClauses: WITH SCHEMA EVOLUTION — new source columns extend the logged schema") {
    val root = tmpDir("snap_evo_merge")
    val base = (1L to 60L).map(i => (i, i * 1.0)).toDF("id", "x")
    Snapshots.commitWithStats(spark,
      base.repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    val feed = Seq((5L, 500.0, "eu"), (7000L, 7.0, "us")).toDF("id", "x", "region")
    // without the flag, an extra column refuses loudly (feed drift)
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark, feed, root, "id", Seq("id"), "t", "u",
        matched = Seq(Snapshots.MatchedUpdate(None, None)),
        insertCond = Some(None))
    }
    assert(e.getMessage.contains("SCHEMA EVOLUTION"))
    val r = Snapshots.mergeClauses(spark, feed, root, "id", Seq("id"),
      "t", "u", matched = Seq(Snapshots.MatchedUpdate(None, None)),
      insertCond = Some(None), evolveSchema = true)
    assert(r.rowsUpdated === 1L && r.rowsInserted === 1L)
    assert(r.filesRewritten < r.filesTotal,
      "evolution keeps the stats-targeted bounded rewrite")
    val after = Snapshots.read(spark, root)
    assert(after.columns.toSeq === Seq("id", "x", "region"))
    // matched row carries the new column; untouched-file rows (carried
    // BY REFERENCE, never rewritten) surface NULL via the logged schema
    assert(after.filter(col("id") === 5L).head().getString(2) === "eu")
    assert(after.filter(col("id") === 7000L).head().getString(2) === "us")
    assert(after.filter(col("region").isNull).count() === 59L)
    assert(after.count() === 61L)
    // pre-evolution versions still read under THEIR schema
    assert(Snapshots.read(spark, root, Some(1L)).columns.toSeq === Seq("id", "x"))
    // a case-colliding "new" column refuses
    intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark, Seq((1L, "Y")).toDF("id", "X"), root,
        "id", Seq("id"), "t", "u",
        matched = Seq(Snapshots.MatchedUpdate(None, None)),
        insertCond = None, evolveSchema = true)
    }
  }

  test("OCC re-base: a streaming append racing OPTIMIZE — both commit, zero re-staged writes") {
    val root = tmpDir("snap_occ_opt")
    val rows = (n: Int, off: Long) =>
      (1 to n).map(i => (i + off, s"r$i")).toDF("id", "s")
    Snapshots.commit(spark, rows(2000, 0L).repartition(1), root)
    (1 to 3).foreach(k => Snapshots.append(spark, rows(50, 10000L * k), root))
    val rb0 = Snapshots.rebases.get(); val rs0 = Snapshots.restages.get()
    // between the optimize's staged compaction and its publish, a
    // tagged streaming micro-batch lands — the commonest collision
    Snapshots.racePublishHook = Some(() => {
      Snapshots.append(spark, rows(40, 90000L), root, tag = Some(99L))
    })
    val r = Snapshots.optimize(spark, root, targetBytes = 1L * 1024 * 1024)
    assert(r.version === 6L, "the loser lands at the rebased version")
    assert(Snapshots.rebases.get() === rb0 + 1, "one manifest re-base")
    assert(Snapshots.restages.get() === rs0,
      "the optimize must NOT re-read and re-write its debt set")
    val after = Snapshots.read(spark, root)
    assert(after.count() === 2000L + 150L + 40L)
    // the racer's batch is intact AND carried by reference
    assert(after.filter(col("id") > 90000L).count() === 40L)
    val v5Fresh = Snapshots.filesOfVersion(spark, root, 5L)
      .filterNot(Snapshots.filesOfVersion(spark, root, 4L).toSet)
    assert(v5Fresh.nonEmpty &&
      v5Fresh.forall(Snapshots.filesOfVersion(spark, root, 6L).toSet))
    // the replay guard still sees the racer's tag
    assert(Snapshots.lastTag(spark, root) === Some(99L))
  }

  test("OCC re-base: merge racing a key-disjoint append — both commit, stats intact") {
    val root = tmpDir("snap_occ_merge")
    val base = (1L to 1000L).map(i => (i, i * 1.0)).toDF("id", "x")
    Snapshots.commitWithStats(spark,
      base.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    val rb0 = Snapshots.rebases.get(); val rs0 = Snapshots.restages.get()
    Snapshots.racePublishHook = Some(() => {
      Snapshots.append(spark,
        (5000L to 5010L).map(i => (i, 0.0)).toDF("id", "x"),
        root, statsCols = Seq("id"))
    })
    val updates = (10L to 20L).map(i => (i, i * 100.0)).toDF("id", "x")
    val r = Snapshots.merge(spark, updates, root, "id", Seq("id"))
    assert(r.version === 3L)
    assert(Snapshots.rebases.get() === rb0 + 1)
    assert(Snapshots.restages.get() === rs0)
    val after = Snapshots.read(spark, root)
    assert(after.count() === 1011L)
    assert(after.filter(col("id") === 15L).head().getDouble(1) === 1500.0)
    assert(after.filter(col("id") === 5005L).count() === 1L)
    // the rebased skipping index covers EVERY file (racer's included):
    // a follow-up merge's coverage gate passes and pruning still bites
    val r2 = Snapshots.merge(spark,
      Seq((999L, 9.0)).toDF("id", "x"), root, "id", Seq("id"))
    assert(r2.filesRewritten < r2.filesTotal)
    val (_, nRead, nTotal) = Snapshots.readPruned(spark, root, None,
      "id", Some(lit(1L)), Some(lit(9L)))
    assert(nRead < nTotal)
  }

  test("OCC re-base: an interleaved insert of the SAME key re-stages (no silent duplicate)") {
    val root = tmpDir("snap_occ_samekey")
    val base = (1L to 1000L).map(i => (i, i * 1.0)).toDF("id", "x")
    Snapshots.commitWithStats(spark,
      base.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    val rb0 = Snapshots.rebases.get(); val rs0 = Snapshots.restages.get()
    // the racer appends a row with key 15 — INSIDE the merge's key set:
    // a re-base would leave that row un-merged (a duplicate key); the
    // added-file overlap gate must force the full re-stage instead
    Snapshots.racePublishHook = Some(() => {
      Snapshots.append(spark, Seq((15L, -1.0)).toDF("id", "x"),
        root, statsCols = Seq("id"))
    })
    val updates = (10L to 20L).map(i => (i, i * 100.0)).toDF("id", "x")
    val r = Snapshots.merge(spark, updates, root, "id", Seq("id"))
    assert(r.version === 3L)
    assert(Snapshots.restages.get() === rs0 + 1, "same-key race must re-stage")
    assert(Snapshots.rebases.get() === rb0)
    val after = Snapshots.read(spark, root)
    // the re-staged merge saw the racer's row: exactly ONE key-15 row,
    // carrying the update
    assert(after.filter(col("id") === 15L).count() === 1L)
    assert(after.filter(col("id") === 15L).head().getDouble(1) === 1500.0)
    assert(after.count() === 1000L)
  }

  test("OCC re-base: deleteRange racing an out-of-range append re-bases; in-range re-stages") {
    val root = tmpDir("snap_occ_del")
    val base = (1L to 1000L).map(i => (i, i * 1.0)).toDF("id", "x")
    Snapshots.commitWithStats(spark,
      base.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    val rb0 = Snapshots.rebases.get()
    Snapshots.racePublishHook = Some(() => {
      Snapshots.append(spark, Seq((8000L, 8.0)).toDF("id", "x"),
        root, statsCols = Seq("id"))
    })
    val r = Snapshots.deleteRange(spark, root, "id",
      Some(lit(1L)), Some(lit(50L)), Seq("id"))
    assert(r.version === 3L && Snapshots.rebases.get() === rb0 + 1)
    assert(Snapshots.read(spark, root).count() === 951L)
    // in-range racer: its row would have faced the delete — re-stage
    val rs0 = Snapshots.restages.get()
    Snapshots.racePublishHook = Some(() => {
      Snapshots.append(spark, Seq((75L, 7.5)).toDF("id", "x"),
        root, statsCols = Seq("id"))
    })
    val r2 = Snapshots.deleteRange(spark, root, "id",
      Some(lit(60L)), Some(lit(90L)), Seq("id"))
    assert(Snapshots.restages.get() === rs0 + 1)
    val after = Snapshots.read(spark, root)
    assert(after.filter(col("id") === 75L).count() === 0L,
      "the re-staged delete must see (and delete) the racer's in-range row")
    assert(after.count() === 951L - 31L)
    assert(after.filter(col("id") === 8000L).count() === 1L)
  }

  test("OCC re-base: mergeClauses re-bases a key-disjoint append; same-key inserts and NMBS re-stage") {
    val root = tmpDir("snap_occ_mc")
    val base = (1L to 1000L).map(i => (i, i * 1.0)).toDF("id", "x")
    Snapshots.commitWithStats(spark,
      base.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    val racer = (rows: Seq[(Long, Double)]) => Snapshots.racePublishHook =
      Some(() => Snapshots.append(spark, rows.toDF("id", "x"), root,
        statsCols = Seq("id")))
    val upsert = (src: Seq[(Long, Double)]) => Snapshots.mergeClauses(spark,
      src.toDF("id", "x"), root, "id", Seq("id"), "t", "u",
      matched = Seq(Snapshots.MatchedUpdate(None, None)),
      insertCond = Some(None))
    // (1) the racer's keys are disjoint from the source's: re-base
    val rb0 = Snapshots.rebases.get(); val rs0 = Snapshots.restages.get()
    racer((5000L to 5010L).map(i => (i, 0.0)))
    val r1 = upsert((10L to 20L).map(i => (i, i * 100.0)))
    assert(r1.version === 3L && r1.rowsUpdated === 11L)
    assert(Snapshots.rebases.get() === rb0 + 1, "one manifest re-base")
    assert(Snapshots.restages.get() === rs0, "zero re-staged writes")
    val after1 = Snapshots.read(spark, root)
    assert(after1.count() === 1011L)
    assert(after1.filter(col("id") === 15L).head().getDouble(1) === 1500.0)
    // (2) the racer inserts a key the statement inserts too: a re-base
    // would publish both rows; the re-staged statement matches the
    // racer's row and updates it instead
    val rb1 = Snapshots.rebases.get(); val rs1 = Snapshots.restages.get()
    racer(Seq((2000L, -1.0)))
    val r2 = upsert(Seq((2000L, 7.0)))
    assert(r2.version === 5L)
    assert(r2.rowsUpdated === 1L && r2.rowsInserted === 0L)
    assert(Snapshots.restages.get() === rs1 + 1, "same-key race must re-stage")
    assert(Snapshots.rebases.get() === rb1)
    val k2000 = Snapshots.read(spark, root).filter(col("id") === 2000L)
      .collect().map(_.getDouble(1)).toSeq
    assert(k2000 === Seq(7.0))
    // (3) NOT MATCHED BY SOURCE reads the whole table: even a
    // key-disjoint racer re-stages, and its row faces the clause
    val rb2 = Snapshots.rebases.get(); val rs2 = Snapshots.restages.get()
    racer(Seq((6000L, 0.0)))
    val r3 = Snapshots.mergeClauses(spark, Seq((100L, 1.0)).toDF("id", "x"),
      root, "id", Seq("id"), "t", "u",
      matched = Seq(Snapshots.MatchedUpdate(None, None)),
      insertCond = None,
      notMatchedBySource = Seq(Snapshots.MatchedDelete(Some(col("t.id") > 4000L))))
    assert(r3.version === 7L && r3.rowsDeleted === 12L)
    assert(Snapshots.restages.get() === rs2 + 1, "NMBS must always re-stage")
    assert(Snapshots.rebases.get() === rb2)
    val after3 = Snapshots.read(spark, root)
    assert(after3.filter(col("id") > 4000L).count() === 0L)
    assert(after3.count() === 1001L)
    assert(after3.filter(col("id") === 100L).head().getDouble(1) === 1.0)
  }

  test("latestVersion reads through the hint floor — no full listings on the hot path") {
    val root = tmpDir("snap_hint")
    val df = Seq((1L, "a")).toDF("id", "s")
    Snapshots.commit(spark, df, root)
    (2 to 25).foreach(_ => Snapshots.append(spark, df, root))
    val c0 = Snapshots.fullListings.get()
    (1 to 10).foreach(_ =>
      assert(Snapshots.latestVersion(spark, root) === Some(25L)))
    assert(Snapshots.fullListings.get() === c0,
      "latestVersion must not list the whole version log")
    // a STALE hint probes forward to the true latest (never early-stops)
    val hintP = java.nio.file.Paths.get(root, "_versions", "_latest_hint")
    java.nio.file.Files.write(hintP, "3".getBytes("UTF-8"))
    assert(Snapshots.latestVersion(spark, root) === Some(25L))
    // a corrupt hint falls back to the listing, never a wrong answer
    java.nio.file.Files.write(hintP, "not-a-number".getBytes("UTF-8"))
    assert(Snapshots.latestVersion(spark, root) === Some(25L))
    // a deleted hint falls back too — and the next commit restores it
    java.nio.file.Files.delete(hintP)
    assert(Snapshots.latestVersion(spark, root) === Some(25L))
    Snapshots.append(spark, df, root)
    assert(java.nio.file.Files.exists(hintP))
    val c1 = Snapshots.fullListings.get()
    assert(Snapshots.latestVersion(spark, root) === Some(26L))
    assert(Snapshots.fullListings.get() === c1)
    // vacuum refreshes the floor before creating gaps
    Snapshots.vacuum(spark, root, keepLast = 2, orphanGraceMs = 0L)
    assert(Snapshots.latestVersion(spark, root) === Some(26L))
    assert(Snapshots.versions(spark, root) === Seq(25L, 26L))
    // a hint pointing at a vacuumed version falls back to the listing
    java.nio.file.Files.write(hintP, "5".getBytes("UTF-8"))
    assert(Snapshots.latestVersion(spark, root) === Some(26L))
  }

  test("lastTag stops at the newest tagged version — O(1) version reads per guard check") {
    val root = tmpDir("snap_lasttag")
    val df = Seq((1L, "a")).toDF("id", "s")
    Snapshots.commit(spark, df, root)
    // 20 tagged appends (the version-per-micro-batch shape), then two
    // untagged maintenance-style versions on top
    (1 to 20).foreach(b => Snapshots.append(spark, df, root, tag = Some(b.toLong)))
    Snapshots.rollback(spark, root, 21L)
    val m0 = Snapshots.metaReads.get()
    assert(Snapshots.lastTag(spark, root) === Some(20L))
    val reads = Snapshots.metaReads.get() - m0
    assert(reads <= 3,
      s"lastTag must stop at the newest tagged version, read $reads version files")
    // a replayed batch still skips (the guard semantics are unchanged)
    assert(Snapshots.lastTag(spark, root).exists(_ >= 20L))
    // untagged-only history answers None without error
    val bare = tmpDir("snap_lasttag_bare")
    Snapshots.commit(spark, df, bare)
    assert(Snapshots.lastTag(spark, bare) === None)
  }

  test("lastTag through the tag checkpoint: O(1) — zero listings AND zero version reads") {
    val root = tmpDir("snap_tag_ckpt")
    val df = Seq((1L, "a")).toDF("id", "s")
    Snapshots.commit(spark, df, root)
    (1 to 30).foreach(b => Snapshots.append(spark, df, root, tag = Some(b.toLong)))
    // the warm path (hint refreshed by the last publish): the per-
    // micro-batch replay guard costs NO log listing and NO version-
    // file read — the structural fix for the q171 shape at 10⁵ commits
    val l0 = Snapshots.fullListings.get(); val m0 = Snapshots.metaReads.get()
    (1 to 10).foreach(_ => assert(Snapshots.lastTag(spark, root) === Some(30L)))
    assert(Snapshots.fullListings.get() === l0,
      "lastTag must not list the log on the warm path")
    assert(Snapshots.metaReads.get() === m0,
      "lastTag must not read version files on the warm path")
    // UNTAGGED publishes carry the claim forward (rollback, optimize)
    Snapshots.rollback(spark, root, 31L)
    val m1 = Snapshots.metaReads.get()
    assert(Snapshots.lastTag(spark, root) === Some(30L))
    assert(Snapshots.metaReads.get() === m1)
    // a STALE hint (delayed writer) reads only the tail above it
    val hintP = java.nio.file.Paths.get(root, "_versions", "_latest_hint")
    java.nio.file.Files.write(hintP, "29 28".getBytes("UTF-8"))
    val m2 = Snapshots.metaReads.get()
    assert(Snapshots.lastTag(spark, root) === Some(30L))
    assert(Snapshots.metaReads.get() - m2 <= 3, "tail reads only")
    // a BARE hint (no tag claim) falls back to the early-stop walk —
    // correct, just not O(1)
    java.nio.file.Files.write(hintP, "32".getBytes("UTF-8"))
    assert(Snapshots.lastTag(spark, root) === Some(30L))
    // a corrupt hint falls back to the listing walk
    java.nio.file.Files.write(hintP, "29 nope".getBytes("UTF-8"))
    assert(Snapshots.lastTag(spark, root) === Some(30L))
    assert(Snapshots.latestVersion(spark, root) === Some(32L))
    // the claim survives vacuuming the tagged versions themselves —
    // strictly safer for a replay guard (the listing would forget)
    Snapshots.append(spark, df, root, tag = Some(31L))
    Snapshots.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(Snapshots.lastTag(spark, root) === Some(31L))
  }

  test("history/fileLineage read the aggregate checkpoint + tail, not O(N) version files") {
    val root = tmpDir("snap_hist_ckpt")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    Snapshots.commit(spark, df, root)
    (1 to 12).foreach(b => Snapshots.append(spark, df, root, tag = Some(b.toLong)))
    // first audit derives and checkpoints
    val h1 = Snapshots.history(spark, root).collect()
    assert(h1.length === 13)
    // second audit: ONE checkpoint read, zero version-file reads
    val m0 = Snapshots.metaReads.get()
    val h2 = Snapshots.history(spark, root).collect()
    assert(Snapshots.metaReads.get() === m0,
      "history must read the checkpoint, not the version files")
    assert(h2.map(_.getLong(0)).toSeq === (1L to 13L))
    assert(h2.map(r => Option(r.get(3))).count(_.isDefined) === 12)
    // a new commit is the TAIL: exactly its own version file reads
    Snapshots.append(spark, df, root, tag = Some(13L))
    val m1 = Snapshots.metaReads.get()
    assert(Snapshots.history(spark, root).count() === 14)
    assert(Snapshots.metaReads.get() - m1 <= 2, "tail-only derivation")
    // fileLineage rides the same checkpoint
    val m2 = Snapshots.metaReads.get()
    val lin = Snapshots.fileLineage(spark, root)
    assert(lin.agg(max("since_version")).head().getLong(0) === 14L)
    assert(lin.agg(min("since_version")).head().getLong(0) === 1L)
    assert(Snapshots.metaReads.get() === m2,
      "fileLineage must read the checkpoint, not the version files")
    // vacuumed versions' rows prune out of the audit (and the ckpt)
    Snapshots.vacuum(spark, root, keepLast = 3, orphanGraceMs = 0L)
    assert(Snapshots.history(spark, root).collect().map(_.getLong(0)).toSeq
      === Seq(12L, 13L, 14L))
    // a corrupt checkpoint re-derives, never errors
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_versions", "_ckpt"),
      "garbage\n{\"v\":broken".getBytes("UTF-8"))
    assert(Snapshots.history(spark, root).count() === 3)
  }

  test("the audit checkpoint is maintained on the commit path every 64 versions") {
    val root = tmpDir("snap_ckpt_cadence")
    val df = Seq((1L, "a")).toDF("id", "s")
    Snapshots.commit(spark, df, root)
    (2 to 70).foreach(_ => Snapshots.append(spark, df, root))
    // the 64th publish folded versions 1..64 into _ckpt — a table
    // that NEVER ran an audit still pays only the tail on its first
    // history call, not O(#commits) version-file reads
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_versions", "_ckpt")))
    val m0 = Snapshots.metaReads.get()
    assert(Snapshots.history(spark, root).count() === 70L)
    val reads = Snapshots.metaReads.get() - m0
    assert(reads <= 8,
      s"first audit must read checkpoint + tail, read $reads version files")
  }

  test("appendWithExpectations: a replayed tagged batch leaves the quarantine untouched") {
    val root = tmpDir("snap_exp_replay")
    val q = tmpDir("snap_exp_replay_q")
    Snapshots.commit(spark, Seq((1L, 10.0)).toDF("id", "x"), root)
    Snapshots.addConstraint(spark, root, "x_pos", "x >= 0.0")
    val batch = Seq((2L, 5.0), (3L, -1.0)).toDF("id", "x")
    val r1 = Snapshots.appendWithExpectations(spark, batch, root, q,
      tag = Some(7L))
    assert(r1.rowsAppended === 1L && r1.rowsQuarantined === 1L)
    val qCount = spark.read.parquet(q).count()
    assert(qCount === 1L)
    // the zombie replay (same tag) refuses BEFORE writing anything —
    // table AND quarantine unchanged
    intercept[IllegalArgumentException] {
      Snapshots.appendWithExpectations(spark, batch, root, q, tag = Some(7L))
    }
    assert(spark.read.parquet(q).count() === qCount,
      "a refused replay must not duplicate quarantine rows")
    assert(Snapshots.read(spark, root).count() === 2L)
  }

  test("vacuum aborts rather than reclaim past an unrefreshable hint") {
    val root = tmpDir("snap_vac_hint")
    val df = Seq((1L, "a")).toDF("id", "s")
    Snapshots.commit(spark, df, root)
    (1 to 4).foreach(_ => Snapshots.append(spark, df, root))
    // make the hint unwritable-as-a-file: a directory squatting on its
    // path fails writeHint — vacuum's fallback DELETES it (forcing the
    // full-listing fallback) and proceeds
    val hintP = java.nio.file.Paths.get(root, "_versions", "_latest_hint")
    java.nio.file.Files.delete(hintP)
    java.nio.file.Files.createDirectory(hintP)
    Snapshots.vacuum(spark, root, keepLast = 2, orphanGraceMs = 0L)
    assert(Snapshots.versions(spark, root) === Seq(4L, 5L))
    assert(Snapshots.latestVersion(spark, root) === Some(5L))
    assert(!java.nio.file.Files.isDirectory(hintP),
      "the squatting dir must be removed so later publishes can refresh")
  }

  test("merge refuses a source whose key does not cast losslessly") {
    val root = tmpDir("snap_keycast")
    Snapshots.commitWithStats(spark,
      (1L to 50L).map(i => (i, i * 1.0)).toDF("id", "x"), root, Seq("id"))
    // string keys that DO cast pass through; one uncastable key refuses
    val bad = Seq(("7", 700.0), ("oops", 0.0)).toDF("id", "x")
    val e = intercept[IllegalArgumentException] {
      Snapshots.merge(spark, bad, root, "id", Seq("id"))
    }
    assert(e.getMessage.contains("does not cast"))
    val ok = Seq(("7", 700.0)).toDF("id", "x")
    Snapshots.merge(spark, ok, root, "id", Seq("id"))
    assert(Snapshots.read(spark, root).filter(col("id") === 7L)
      .head().getDouble(1) === 700.0)
  }

  test("mergeClauses refuses duplicate source keys (multi-match would multiply rows)") {
    val root = tmpDir("snap_dupkeys")
    Snapshots.commitWithStats(spark,
      (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "x"), root, Seq("id"))
    val dup = Seq((5L, 1.0), (5L, 2.0), (6L, 3.0)).toDF("id", "x")
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark, dup, root, "id", Seq("id"), "t", "u",
        matched = Seq(Snapshots.MatchedUpdate(None, None)),
        insertCond = Some(None))
    }
    assert(e.getMessage.contains("duplicate"))
    // the table is untouched by the refusal
    assert(Snapshots.read(spark, root).count() === 20L)
    assert(Snapshots.latestVersion(spark, root) === Some(1L))
    // duplicate NULL keys stay legal — they never match, each inserts
    val nulls = Seq((Option.empty[Long], 1.0), (Option.empty[Long], 2.0))
      .toDF("id", "x")
    val r = Snapshots.mergeClauses(spark, nulls, root, "id", Seq("id"),
      "t", "u", matched = Seq(Snapshots.MatchedUpdate(None, None)),
      insertCond = Some(None))
    assert(r.rowsInserted === 2L)
  }

  test("tagged writes enforce strictly increasing tags at the write boundary") {
    val root = tmpDir("snap_tag_mono")
    val df = Seq((1L, "a")).toDF("id", "s")
    Snapshots.commit(spark, df, root)
    Snapshots.append(spark, df, root, tag = Some(5L))
    // a replayed (equal) or out-of-order (smaller) tag refuses — the
    // invariant lastTag's early-stop read relies on is enforced, not
    // assumed
    val e = intercept[IllegalArgumentException] {
      Snapshots.append(spark, df, root, tag = Some(5L))
    }
    assert(e.getMessage.contains("not newer"))
    intercept[IllegalArgumentException] {
      Snapshots.append(spark, df, root, tag = Some(4L))
    }
    intercept[IllegalArgumentException] {
      Snapshots.merge(spark, df, root, "id", Seq("id"), tag = Some(5L))
    }
    // the refused appends leave no partial state
    assert(Snapshots.versions(spark, root) === Seq(1L, 2L))
    // a newer tag proceeds
    Snapshots.append(spark, df, root, tag = Some(6L))
    assert(Snapshots.lastTag(spark, root) === Some(6L))
  }

  test("vacuumRetainMs: time-based retention, horizon boundary inclusive") {
    val root = tmpDir("snap_vac_hours")
    val df = Seq((1L, "a")).toDF("id", "s")
    (1 to 5).foreach { _ =>
      if (Snapshots.latestVersion(spark, root).isEmpty)
        Snapshots.commit(spark, df, root)
      else Snapshots.append(spark, df, root)
    }
    // pin the commit clock: v1 oldest (now-5h) .. v5 newest (now-1h)
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).getRawFileSystem
    val now = System.currentTimeMillis()
    (1 to 5).foreach { v =>
      f.setTimes(new org.apache.hadoop.fs.Path(
          s"$root/_versions/" + f"v$v%08d.json"),
        now - (6 - v) * 3600L * 1000L, -1)
    }
    // horizon lands EXACTLY on v3's mtime: v3 survives (inclusive
    // bound), v1/v2 drop
    Snapshots.vacuumRetainMs(spark, root, 3 * 3600L * 1000L,
      orphanGraceMs = 0L, nowMs = Some(now))
    assert(Snapshots.versions(spark, root) === Seq(3L, 4L, 5L))
    assert(Snapshots.read(spark, root).count() === 5L,
      "the latest version must stay fully readable")
    // a zero horizon still keeps the latest — a quiet table must
    // stay readable at any retention
    Snapshots.vacuumRetainMs(spark, root, 0L, orphanGraceMs = 0L)
    assert(Snapshots.versions(spark, root) === Seq(5L))
    assert(Snapshots.read(spark, root).count() === 5L)
  }

  test("incremental re-cluster: only the debt plus its overlapping range rewrites") {
    val root = tmpDir("snap_zinc")
    // incompressible payload so file sizes are predictable: 8 tight
    // id-clustered full files well above the target, debt well below
    def rows(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(col("id"), sha2(col("id").cast("string"), 256).as("s"))
    Snapshots.commitWithStats(spark,
      rows(1L, 100000L).repartitionByRange(8, col("id"))
        .sortWithinPartitions("id"),
      root, Seq("id"))
    // fresh debt lands in a NARROW key band (today's keys): ids 1..2000
    Snapshots.append(spark, rows(1L, 2000L).repartition(3), root, Seq("id"))
    val before = Snapshots.read(spark, root)
    val total = Snapshots.filesOfVersion(spark, root, 2L).size
    val r = Snapshots.optimize(spark, root, targetBytes = 128L * 1024,
      statsCols = Seq("id"), clusterBy = Seq("id"), clusterDebtOnly = true)
    assert(r.version === 3L)
    // the debt band overlaps only the low-id full file(s): rewrite ⊂ table
    assert(r.filesRewritten < total,
      s"incremental re-cluster must not rewrite the table: ${r.filesRewritten}/$total")
    assert(r.filesRewritten >= 3, "the debt itself must rewrite")
    val after = Snapshots.read(spark, root, Some(3L))
    assert(before.exceptAll(after).isEmpty && after.exceptAll(before).isEmpty)
    // skip effectiveness: a high-id range away from the debt still prunes
    val (_, nRead, nTotal) = Snapshots.readPruned(spark, root, Some(3L),
      "id", Some(lit(90000L)), Some(lit(95000L)))
    assert(nRead < nTotal)
    // and the re-clustered band prunes tightly too
    val (_, nRead2, _) = Snapshots.readPruned(spark, root, Some(3L),
      "id", Some(lit(500L)), Some(lit(600L)))
    assert(nRead2 < nTotal)
  }

  test("OCC re-base: updateWhere racing a predicate-disjoint append — both commit, zero re-staged writes") {
    val root = tmpDir("snap_occ_upd")
    Snapshots.commit(spark,
      (1L to 1000L).map(i => (i, i * 1.0)).toDF("id", "x"), root)
    val rb0 = Snapshots.rebases.get(); val rs0 = Snapshots.restages.get()
    // the racer's rows cannot satisfy the update predicate: the
    // staged churn-sized rewrite stays valid and only the tiny
    // manifest re-publishes — neither writer re-runs its body
    Snapshots.racePublishHook = Some(() => {
      Snapshots.append(spark, Seq((5000L, 50.0)).toDF("id", "x"), root)
    })
    val r = Snapshots.updateWhere(spark, root,
      col("id").between(10L, 20L), Seq("x" -> (col("x") * 100.0)))
    assert(r.version === 3L, "the loser lands at the rebased version")
    assert(r.rowsUpdated === 11L)
    assert(Snapshots.rebases.get() === rb0 + 1, "one manifest re-base")
    assert(Snapshots.restages.get() === rs0, "zero re-staged writes")
    val after = Snapshots.read(spark, root)
    assert(after.count() === 1001L)
    assert(after.filter(col("id") === 15L).head().getDouble(1) === 1500.0)
    assert(after.filter(col("id") === 5000L).count() === 1L,
      "the racer's batch must ride the rebased manifest")
    assert(after.filter(col("id") === 500L).head().getDouble(1) === 500.0)
    // an OVERLAPPING racer (its row matches the predicate) re-stages:
    // the update must behave as if it ran AFTER the interleaver, so
    // the racer's matching row faces the predicate too
    val rs1 = Snapshots.restages.get(); val rb1 = Snapshots.rebases.get()
    Snapshots.racePublishHook = Some(() => {
      Snapshots.append(spark, Seq((75L, 7.5)).toDF("id", "x"), root)
    })
    val r2 = Snapshots.updateWhere(spark, root,
      col("id").between(60L, 90L), Seq("x" -> (col("x") * 100.0)))
    assert(Snapshots.restages.get() === rs1 + 1, "overlap must re-stage")
    assert(Snapshots.rebases.get() === rb1)
    assert(r2.rowsUpdated === 32L,
      "the re-staged update must see (and update) the racer's in-range row")
    val seventyFive = Snapshots.read(spark, root)
      .filter(col("id") === 75L).collect().map(_.getDouble(1)).sorted
    assert(seventyFive.toSeq === Seq(750.0, 7500.0))
  }

  test("hint floor survives an unreadable tag field (claim drops, floor stays)") {
    val root = tmpDir("snap_hint_tagbad")
    val df = Seq((1L, "a")).toDF("id", "s")
    Snapshots.commit(spark, df, root)
    (1 to 10).foreach(b => Snapshots.append(spark, df, root, tag = Some(b.toLong)))
    // a 19-digit tag is a legal Long: writeHint emits it, so readHint
    // must round-trip it — a parse bound narrower than the writer's
    // range would deposit claims that can never be read back,
    // permanently degrading lastTag to listing walks. Written through
    // the Hadoop FS — exactly how writeHint itself deposits (NIO
    // would skew the crc sidecar)
    writeHintVia(root, "11 1230000000000000000")
    val l0 = Snapshots.fullListings.get()
    assert(Snapshots.latestVersion(spark, root) === Some(11L))
    assert(Snapshots.fullListings.get() === l0)
    assert(Snapshots.lastTag(spark, root) === Some(1230000000000000000L),
      "any tag writeHint can emit must read back as the claim")
    // a GENUINELY unreadable tag (all-digit Long overflow): ONLY the
    // claim may drop — losing the floor too would send every
    // latestVersion call to a full listing
    writeHintVia(root, "11 99999999999999999999")
    val l1 = Snapshots.fullListings.get()
    assert(Snapshots.latestVersion(spark, root) === Some(11L))
    assert(Snapshots.fullListings.get() === l1,
      "the version floor must survive an unreadable tag")
    assert(Snapshots.lastTag(spark, root) === Some(10L),
      "the claim drops but the walk stays correct")
  }

  test("an untagged publish carries the tag claim across a bounded hint gap") {
    val root = tmpDir("snap_tag_gap")
    val df = Seq((1L, "a")).toDF("id", "s")
    Snapshots.commit(spark, df, root)
    (1 to 8).foreach(b => Snapshots.append(spark, df, root, tag = Some(b.toLong)))
    // simulate a delayed hint writer: the claim is stuck four
    // versions back (max tag ≤ v5 is 4)
    writeHintVia(root, "5 4")
    // an UNTAGGED publish probes the ≤gap versions' own tags instead
    // of dropping the claim — a mixed tagged/untagged writer workload
    // keeps the O(1) replay guard
    Snapshots.rollback(spark, root, 9L)
    val l0 = Snapshots.fullListings.get(); val m0 = Snapshots.metaReads.get()
    (1 to 5).foreach(_ => assert(Snapshots.lastTag(spark, root) === Some(8L)))
    assert(Snapshots.fullListings.get() === l0,
      "the carried claim must keep lastTag listing-free")
    assert(Snapshots.metaReads.get() === m0,
      "the carried claim must keep lastTag read-free")
  }

  test("mergeClauses type widening: decimal growth round-trips; bucket columns refuse") {
    val root = tmpDir("snap_widen_dec")
    import org.apache.spark.sql.types._
    Snapshots.commitWithStats(spark,
      (1 to 20).map(i => (i, BigDecimal(i) + BigDecimal("0.25")))
        .toDF("id", "d").select(col("id"),
          col("d").cast(DecimalType(6, 2)).as("d"))
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    val srcW = Seq((5, BigDecimal("12345678.99")), (999, BigDecimal("1.00")))
      .toDF("id", "d").select(col("id"),
        col("d").cast(DecimalType(12, 2)).as("d"))
    val r = Snapshots.mergeClauses(spark, srcW, root, "id", Seq("id"),
      "t", "u", matched = Seq(Snapshots.MatchedUpdate(None, None)),
      insertCond = Some(None), evolveSchema = true)
    assert(r.rowsUpdated === 1L && r.rowsInserted === 1L)
    val after = Snapshots.read(spark, root)
    assert(after.schema("d").dataType === DecimalType(12, 2))
    assert(after.count() === 21L)
    assert(after.filter(col("id") === 5).head().getDecimal(1).toPlainString
      === "12345678.99")
    // a carried narrow file reads up through the widened decimal
    assert(after.filter(col("id") === 15).head().getDecimal(1).toPlainString
      === "15.25")
    // the change feed composes ACROSS the widening boundary: both
    // sides read under the TO version's widened schema (narrow v1
    // files widen on read), so the diff frame is type-consistent
    val ch = Snapshots.changes(spark, root, 1L, 2L).df
    assert(ch.schema("d").dataType === DecimalType(12, 2))
    assert(ch.filter(col("id") === 999).count() >= 1L,
      "the widened insert must surface in the change feed")
    // a NARROWER source under the flag is NOT an evolution — it
    // casts up to the logged type, exactly as without the flag (an
    // int producer keeps feeding a long-widened table)
    val narrow = Seq((7, BigDecimal("77.50"))).toDF("id", "d")
      .select(col("id"), col("d").cast(DecimalType(6, 2)).as("d"))
    val rn = Snapshots.mergeClauses(spark, narrow, root, "id", Seq("id"),
      "t", "u", matched = Seq(Snapshots.MatchedUpdate(None, None)),
      insertCond = Some(None), evolveSchema = true)
    assert(rn.rowsUpdated === 1L)
    val afterN = Snapshots.read(spark, root)
    assert(afterN.schema("d").dataType === DecimalType(12, 2),
      "a narrower feed must not regress the widened schema")
    assert(afterN.filter(col("id") === 7).head().getDecimal(1).toPlainString
      === "77.50")
    // a decimal change that LOSES fraction digits refuses
    val lossy = Seq((5, BigDecimal("1"))).toDF("id", "d")
      .select(col("id"), col("d").cast(DecimalType(12, 1)).as("d"))
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark, lossy, root, "id", Seq("id"), "t", "u",
        matched = Seq(Snapshots.MatchedUpdate(None, None)),
        insertCond = Some(None), evolveSchema = true)
    }
    assert(e.getMessage.contains("lossless"))
    // OPTIMIZE compacts the MIXED-WIDTH file set (narrow v1 files +
    // widened fresh files) under the widened logged schema — the
    // rewritten files are uniformly wide and values survive
    val ro = Snapshots.optimize(spark, root, targetBytes = 64L * 1024 * 1024)
    val afterO = Snapshots.read(spark, root)
    assert(afterO.schema("d").dataType === DecimalType(12, 2))
    assert(afterO.count() === 21L)
    assert(afterO.filter(col("id") === 15).head().getDecimal(1).toPlainString
      === "15.25")
    assert(afterO.filter(col("id") === 5).head().getDecimal(1).toPlainString
      === "12345678.99")
    assert(ro.version > 0L)
    // a BUCKET column never widens: existing files were hashed under
    // the narrow type and a widened key would silently mis-bucket
    val broot = tmpDir("snap_widen_bkt")
    Snapshots.commitWithStats(spark,
      (1 to 20).map(i => (i, i * 1.0)).toDF("id", "x"),
      broot, Seq("id"), bucketBy = Some(Snapshots.Bucketing(4, Seq("id"), Seq("id"))))
    val eb = intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark, Seq((5L, 1.0)).toDF("id", "x"),
        broot, "id", Seq("id"), "t", "u",
        matched = Seq(Snapshots.MatchedUpdate(None, None)),
        insertCond = Some(None), evolveSchema = true)
    }
    assert(eb.getMessage.contains("bucket"))
  }

  test("insert-only mergeClauses tolerates duplicate source keys (no matched clause can multiply)") {
    val root = tmpDir("snap_dup_insonly")
    Snapshots.commitWithStats(spark,
      (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "x"), root, Seq("id"))
    // duplicate keys: one pair MATCHES a target row (kept exactly
    // once — the semi-join path), one pair is unmatched (each copy
    // inserts — SQL MERGE's multi-row insert)
    val dup = Seq((5L, 501.0), (5L, 502.0), (20L, 201.0), (20L, 202.0))
      .toDF("id", "x")
    val r = Snapshots.mergeClauses(spark, dup, root, "id", Seq("id"),
      "t", "u", matched = Nil, insertCond = Some(None))
    assert(r.rowsInserted === 2L && r.rowsUpdated === 0L)
    val after = Snapshots.read(spark, root)
    assert(after.count() === 12L)
    assert(after.filter(col("id") === 5L).count() === 1L,
      "a multi-matched target row must be kept exactly once")
    assert(after.filter(col("id") === 5L).head().getDouble(1) === 5.0,
      "an insert-only merge never rewrites matched rows")
    assert(after.filter(col("id") === 20L).count() === 2L)
    // a dimension-sync (NMBS) statement with duplicate source keys is
    // legal too — its matched side keeps via the same semi-join
    val r2 = Snapshots.mergeClauses(spark, dup, root, "id", Seq("id"),
      "t", "u", matched = Nil, insertCond = None,
      notMatchedBySource = Seq(Snapshots.MatchedUpdate(None,
        Some(Seq("x" -> lit(-1.0))))))
    assert(r2.rowsUpdated === 9L, "targets 1..10 minus the matched 5")
    val after2 = Snapshots.read(spark, root)
    assert(after2.count() === 12L)
    assert(after2.filter(col("id") === 5L).count() === 1L)
    assert(after2.filter(col("x") === -1.0).count() === 9L,
      "only the unmatched originals sync; both matched id-20 rows keep")
    assert(after2.filter(col("id") === 20L).count() === 2L)
  }
}
