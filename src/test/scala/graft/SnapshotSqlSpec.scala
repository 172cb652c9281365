package graft

import graft.etl.Snapshots
import graft.plans.{SnapshotFileIndex, SnapshotSql}
import org.apache.spark.sql.functions._

/** The snapshot tier as a SQL table format (plans/SnapshotSql +
  * plans/SnapshotFileIndex): `FROM snap.`root`` resolution through
  * the injected rule, SQL time travel, planning-time data skipping
  * from the stats index, and dv/schema-evolution composition.
  */
class SnapshotSqlSpec extends SparkSpec {
  import spark.implicits._

  private def ids(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, s"r$i")).toDF("id", "s")

  /** A 4-file id-clustered table with a stats index. */
  private def clustered(root: String, n: Int = 400): Unit =
    Snapshots.commitWithStats(spark,
      ids(1, n).repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))

  test("plain spark.sql resolves snap.`root` through the injected rule") {
    val root = tmpDir("sqlsnap_basic")
    clustered(root, 100)
    val got = spark.sql(s"SELECT count(*) AS n, sum(id) AS s FROM snap.`$root`")
      .as[(Long, Long)].head()
    assert(got === ((100L, 5050L)))
  }

  test("SnapshotSql.sql works without relying on session extensions") {
    val root = tmpDir("sqlsnap_helper")
    clustered(root, 50)
    val got = SnapshotSql.sql(spark,
      s"SELECT max(id) AS m FROM snap.`$root` WHERE id <= 20")
      .as[Long].head()
    assert(got === 20L)
  }

  test("VERSION AS OF pins the read to the version log") {
    val root = tmpDir("sqlsnap_vasof")
    Snapshots.commit(spark, ids(1, 10), root)
    Snapshots.commit(spark, ids(1, 99), root)
    val v1 = spark.sql(s"SELECT count(*) AS n FROM snap.`$root` VERSION AS OF 1")
      .as[Long].head()
    val v2 = spark.sql(s"SELECT count(*) AS n FROM snap.`$root` VERSION AS OF 2")
      .as[Long].head()
    assert((v1, v2) === ((10L, 99L)))
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM snap.`$root` VERSION AS OF 7").collect()
    }
    assert(err.getMessage.contains("no committed version"))
  }

  test("TIMESTAMP AS OF resolves against pinned commit mtimes") {
    val root = tmpDir("sqlsnap_tasof")
    Snapshots.commit(spark, ids(1, 10), root)
    Snapshots.commit(spark, ids(1, 99), root)
    // pin the commit-file clock: v1 at t0, v2 a minute later
    val t0 = 1700000000000L
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.setTimes(new org.apache.hadoop.fs.Path(s"$root/_versions/v00000001.json"), t0, -1)
    f.setTimes(new org.apache.hadoop.fs.Path(s"$root/_versions/v00000002.json"), t0 + 60000, -1)
    // 2023-11-14 22:13:20 UTC == t0; the session time zone is UTC
    val atV1 = spark.sql(s"SELECT count(*) AS n FROM snap.`$root` " +
      "TIMESTAMP AS OF '2023-11-14 22:13:20'").as[Long].head()
    val atV2 = spark.sql(s"SELECT count(*) AS n FROM snap.`$root` " +
      "TIMESTAMP AS OF '2023-11-14 22:14:20'").as[Long].head()
    assert((atV1, atV2) === ((10L, 99L)))
  }

  test("pushed range predicate skips files at planning time") {
    val root = tmpDir("sqlsnap_skip")
    clustered(root)
    val (df, idx) = Snapshots.sqlScan(spark, root)
    // a range hitting one quarter of the clustered layout
    val got = df.filter(col("id") >= 350L).agg(count(lit(1)), sum("id"))
      .as[(Long, Long)].head()
    assert(got === ((51L, (350 to 400).map(_.toLong).sum)))
    val (kept, total) = idx.lastScan.get
    assert(total === 4, s"expected the 4-file layout, saw $total")
    assert(kept < total, s"range predicate pruned nothing ($kept/$total)")
  }

  test("point predicate and IN prune to their buckets; non-stats columns don't block") {
    val root = tmpDir("sqlsnap_point")
    clustered(root)
    val (df, idx) = Snapshots.sqlScan(spark, root)
    assert(df.filter(col("id") === 7L && col("s") =!= "nope").count() === 1L)
    assert(idx.lastScan.get._1 === 1, s"point lookup opened ${idx.lastScan.get._1} files")
    assert(df.filter(col("id").isin(5L, 395L)).count() === 2L)
    assert(idx.lastScan.get._1 === 2, s"IN opened ${idx.lastScan.get._1} files")
  }

  test("unprovable predicates keep every file (conservative, never wrong)") {
    val root = tmpDir("sqlsnap_cons")
    clustered(root)
    val (df, idx) = Snapshots.sqlScan(spark, root)
    assert(df.filter(col("s") === "r123").count() === 1L) // s has no stats
    assert(idx.lastScan.get._1 === 4)
    assert(df.filter(col("id") % 100L === 0L).count() === 4L) // untranslatable shape
    assert(idx.lastScan.get._1 === 4)
  }

  test("SQL reads compose with deletion vectors") {
    val root = tmpDir("sqlsnap_dv")
    clustered(root, 100)
    Snapshots.deleteWhere(spark, root, col("id") % 10L === 0L)
    val got = spark.sql(
      s"SELECT count(*) AS n, sum(id) AS s FROM snap.`$root`")
      .as[(Long, Long)].head()
    assert(got === ((90L, 5050L - (10 to 100 by 10).sum)))
  }

  test("SQL reads honor the logged evolved schema (old files as NULL)") {
    val root = tmpDir("sqlsnap_evo")
    Snapshots.commitWithStats(spark, ids(1, 20), root, Seq("id"))
    Snapshots.append(spark,
      ids(21, 30).withColumn("chan", lit("web")), root, Seq("id"),
      evolveSchema = true)
    val got = spark.sql(s"SELECT coalesce(chan, 'legacy') AS c, count(*) AS n " +
      s"FROM snap.`$root` GROUP BY 1 ORDER BY 1").as[(String, Long)].collect()
    assert(got === Array(("legacy", 20L), ("web", 10L)))
  }

  test("a conjunctive box predicate intersects both columns' prunes (the z-order payoff)") {
    val root = tmpDir("sqlsnap_box")
    // v = 2*id is monotone with the clustering key, so each file
    // carries tight ranges on BOTH stats columns
    val t = (1 to 400).map(i => (i.toLong, 2L * i)).toDF("id", "v")
    graft.etl.Snapshots.commitWithStats(spark,
      t.repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      root, Seq("id", "v"))
    val (df, idx) = graft.etl.Snapshots.sqlScan(spark, root)
    // id alone admits files 1-2; v alone admits files 1-3; the box
    // must open their INTERSECTION, and the values must be exact
    val got = df.filter(col("id") <= 100L && col("v").between(150L, 260L))
      .agg(count(lit(1)), sum("id")).as[(Long, Long)].head()
    assert(got === ((26L, (75 to 100).map(_.toLong).sum)))
    val (kept, total) = idx.lastScan.get
    assert(total === 8 && kept <= 2, s"box opened $kept of $total files")
  }

  test("catalog relations in SQL: consistent pinned reads; VERSION AS OF travels the catalog") {
    import graft.etl.Catalog
    val base = tmpDir("sqlsnap_cat")
    val (f, d, c) = (s"$base/f", s"$base/d", s"$base/cat")
    graft.etl.Snapshots.commit(spark, ids(1, 10).toDF("k", "s"), f)
    graft.etl.Snapshots.commit(spark,
      (1 to 10).map(i => (i.toLong, s"d$i")).toDF("k", "name"), d)
    Catalog.commit(spark, c, Map(
      "fact" -> Catalog.Pin(f, 1L), "dim" -> Catalog.Pin(d, 1L)))
    graft.etl.Snapshots.commit(spark, ids(1, 20).toDF("k", "s"), f)
    graft.etl.Snapshots.commit(spark,
      (1 to 20).map(i => (i.toLong, s"d$i")).toDF("k", "name"), d)
    Catalog.commit(spark, c, Map(
      "fact" -> Catalog.Pin(f, 2L), "dim" -> Catalog.Pin(d, 2L)))
    // an in-flight fact-only commit stays invisible through the catalog
    graft.etl.Snapshots.commit(spark, ids(1, 35).toDF("k", "s"), f)
    val got = spark.sql(
      s"""SELECT count(*) AS n FROM snap.`$c::fact` a
         |JOIN snap.`$c::dim` b ON a.k = b.k""".stripMargin)
      .as[Long].head()
    assert(got === 20L)
    val v1 = spark.sql(
      s"SELECT count(*) AS n FROM snap.`$c::fact` VERSION AS OF 1")
      .as[Long].head()
    assert(v1 === 10L)
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM snap.`$c::nope`").collect()
    }
    assert(err.getMessage.contains("no table 'nope'"))
  }

  test("SQL DML: INSERT appends copy-on-write, OVERWRITE replaces, DELETE writes a vector") {
    import graft.etl.Snapshots
    val root = tmpDir("sqlsnap_dml")
    clustered(root, 100)
    val ins = SnapshotSql.sql(spark,
      s"INSERT INTO snap.`$root` SELECT id + 1000, concat('x', s) FROM snap.`$root`")
      .as[(Long, Long)].head()
    assert(ins === ((2L, 200L)))
    assert(spark.sql(s"SELECT count(*) FROM snap.`$root`").as[Long].head() === 200L)
    // DELETE: zero data files rewritten — a vector version
    val del = SnapshotSql.sql(spark,
      s"DELETE FROM snap.`$root` WHERE id % 10 = 0")
      .as[(Long, Long)].head()
    assert(del._1 === 3L && del._2 === 20L)
    val h = Snapshots.history(spark, root).orderBy("version")
      .as[(Long, String, Long, Option[Long], Boolean, Int)].collect()
    assert(h(2) === ((3L, "manifest", 180L, None, true, 0)))
    assert(spark.sql(s"SELECT count(*) FROM snap.`$root`").as[Long].head() === 180L)
    // OVERWRITE: a full-replace commit
    val ow = SnapshotSql.sql(spark,
      s"INSERT OVERWRITE snap.`$root` SELECT id, s FROM snap.`$root` WHERE id <= 5")
      .as[(Long, Long)].head()
    assert(ow === ((4L, 5L)))
    assert(spark.sql(s"SELECT sum(id) FROM snap.`$root`").as[Long].head() === 15L)
    // INSERT enforces the logged CHECK constraints
    Snapshots.addConstraint(spark, root, "id_pos", "id > 0")
    val err = intercept[Exception] {
      SnapshotSql.sql(spark,
        s"INSERT INTO snap.`$root` SELECT -1 AS id, 'bad' AS s")
    }
    assert(err.getMessage.contains("id_pos"), err.getMessage)
    // catalog relations refuse DML
    val err2 = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark, s"DELETE FROM snap.`/x::fact` WHERE 1 = 1")
    }
    assert(err2.getMessage.contains("read-only"))
  }

  test("SQL UPDATE routes to the merge-on-read writer: zero pre-existing rewrites") {
    val root = tmpDir("sqlsnap_upd")
    clustered(root, 100)
    val before = Snapshots.filesOfVersion(spark, root, 1L).toSet
    val r = SnapshotSql.sql(spark,
      s"UPDATE snap.`$root` SET s = concat(s, '-u') WHERE id % 10 = 3")
      .as[(Long, Long)].head()
    assert(r === ((2L, 10L)))
    val after = Snapshots.filesOfVersion(spark, root, 2L).toSet
    assert(before.subsetOf(after), "UPDATE must carry every old file by reference")
    assert(Snapshots.versionMeta(spark, root, 2L).dv.isDefined)
    val rows = spark.sql(s"SELECT id, s FROM snap.`$root` WHERE id IN (3, 4)")
      .as[(Long, String)].collect().toMap
    assert(rows(3L) === "r3-u" && rows(4L) === "r4")
    assert(spark.sql(s"SELECT count(*) FROM snap.`$root`")
      .as[Long].head() === 100L)
    // alias-qualified columns resolve; unconditional UPDATE works
    val r2 = SnapshotSql.sql(spark,
      s"UPDATE snap.`$root` AS t SET t.s = upper(t.s) WHERE t.id = 1")
      .as[(Long, Long)].head()
    assert(r2 === ((3L, 1L)))
  }

  test("SQL MERGE INTO routes the upsert shape to the stats-targeted merge") {
    val root = tmpDir("sqlsnap_merge")
    clustered(root, 400)
    // source: updates for a key-local slice plus brand-new keys
    ids(1, 30).withColumn("s", concat(col("s"), lit("-m")))
      .unionByName(ids(9001, 9005))
      .createOrReplaceTempView("merge_src")
    val r = SnapshotSql.sql(spark,
      s"""MERGE INTO snap.`$root` t USING merge_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .as[(Long, Int, Int, Long)].head()
    assert(r._1 === 2L)
    assert(r._2 > 0 && r._2 < r._3, s"rewrite must be bounded: $r")
    val got = spark.sql(
      s"SELECT id, s FROM snap.`$root` WHERE id IN (1, 31, 9001)")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "r1-m", 31L -> "r31", 9001L -> "r9001"))
    assert(spark.sql(s"SELECT count(*) FROM snap.`$root`")
      .as[Long].head() === 405L)
    // MULTIPLE insert clauses are now first-class (first-match-wins —
    // see the dedicated spec); here every source key already matches,
    // so the multi-clause receipt pins zero inserts per clause and the
    // statement is a pure idempotent update
    val rMulti = SnapshotSql.sql(spark,
      s"""MERGE INTO snap.`$root` t USING merge_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND s.id > 9001 THEN INSERT *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert(rMulti.getLong(5) === 0L && rMulti.getString(6) === "0,0")
    assert(spark.sql(s"SELECT count(*) FROM snap.`$root`")
      .as[Long].head() === 405L, "an all-matched multi-insert merge must not grow the table")
    val err2 = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark,
        s"""MERGE INTO snap.`$root` t USING merge_src s
           |ON t.id = s.id AND t.id > 5
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(err2.getMessage.contains("one equality"), err2.getMessage)
  }

  test("static INSERT ... PARTITION fills the column; dynamic refuses") {
    val root = tmpDir("sqlsnap_inspart")
    Snapshots.commit(spark,
      Seq((1L, "g0", "a")).toDF("id", "grp", "s"), root,
      partitionBy = Seq("grp"))
    SnapshotSql.sql(spark,
      s"INSERT INTO snap.`$root` PARTITION (grp='g1') SELECT 2L, 'b'")
    val rows = spark.sql(s"SELECT id, grp, s FROM snap.`$root` ORDER BY id")
      .as[(Long, String, String)].collect()
    assert(rows === Array((1L, "g0", "a"), (2L, "g1", "b")))
    assert(Snapshots.filesOfVersion(spark, root, 2L)
      .exists(_.contains("__p_grp=g1")))
    // a spec column without a value is DYNAMIC partitioning — refuse
    val err = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark,
        s"INSERT INTO snap.`$root` PARTITION (grp) SELECT 3L, 'c'")
    }
    assert(err.getMessage.contains("dynamic"), err.getMessage)
    // a non-partition column in the spec refuses
    val err2 = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark,
        s"INSERT INTO snap.`$root` PARTITION (s='x') SELECT 4L, 'g0'")
    }
    assert(err2.getMessage.contains("not a partition column"), err2.getMessage)
  }

  test("INSERT OVERWRITE ... PARTITION reloads one partition atomically, zero reads") {
    val root = tmpDir("sqlsnap_rppart")
    val base = (1L to 90L).map(i => (i, s"g${i % 3}", s"r$i"))
      .toDF("id", "grp", "s")
    Snapshots.commitWithStats(spark, base, root, Seq("id"),
      partitionBy = Seq("grp"))
    val beforeOther = Snapshots.filesOfVersion(spark, root, 1L)
      .filterNot(_.contains("__p_grp=g1")).toSet
    val rec = SnapshotSql.sql(spark,
      s"""INSERT OVERWRITE snap.`$root` PARTITION (grp = 'g1')
         |SELECT id + 1000, concat('new', s) FROM snap.`$root`
         |WHERE grp = 'g1' AND id <= 10""".stripMargin)
      .as[(Long, Int, Int, Long)].head()
    // cleanly partitioned table: NOTHING pre-existing was read
    assert(rec._1 === 2L && rec._2 === 0, s"expected zero rewrites: $rec")
    assert(rec._4 === 4L, "g1 has ids 1,4,7,10 <= 10")
    // every other partition's files carried by path
    val after = Snapshots.filesOfVersion(spark, root, 2L).toSet
    assert(beforeOther.subsetOf(after))
    assert(!after.exists(f =>
      f.contains("__p_grp=g1") && Snapshots.filesOfVersion(spark, root, 1L)
        .contains(f)), "old g1 files must be dropped")
    val got = spark.sql(
      s"SELECT count(*), sum(CASE WHEN grp = 'g1' THEN 1 ELSE 0 END) " +
        s"FROM snap.`$root`").as[(Long, Long)].head()
    assert(got === ((64L, 4L)), "60 other-partition rows + 4 reloaded")
    // a batch row OUTSIDE the replaced partition refuses
    val err = intercept[IllegalArgumentException] {
      Snapshots.replacePartition(spark,
        Seq((999L, "g2", "x")).toDF("id", "grp", "s"), root,
        Map("grp" -> lit("g1")), Seq("id"))
    }
    assert(err.getMessage.contains("OUTSIDE"), err.getMessage)
  }

  test("SQL over a partitioned snapshot: path pruning fires through plain WHERE") {
    val root = tmpDir("sqlsnap_part")
    val base = (1L to 3000L).map(i => (i, s"g${i % 3}", s"r$i"))
      .toDF("id", "grp", "s")
    Snapshots.commitWithStats(spark,
      base.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, Seq("id"), partitionBy = Seq("grp"))
    val (df, idx) = Snapshots.sqlScan(spark, root)
    val n = df.filter(col("grp") === "g2").agg(count(lit(1)))
      .head().getLong(0)
    assert(n === 1000L)
    assert(idx.lastPartitionKept === Some(4),
      s"one of three partitions survives: ${idx.lastPartitionKept}")
    // and the session-SQL path prunes identically
    val viaSql = spark.sql(
      s"SELECT count(*) FROM snap.`$root` WHERE grp = 'g2' AND id <= 500")
      .as[Long].head()
    assert(viaSql === base.filter(col("grp") === "g2" && col("id") <= 500).count())
  }

  test("SQL maintenance verbs: OPTIMIZE, DESCRIBE HISTORY, RESTORE, VACUUM") {
    import spark.implicits._
    val root = tmpDir("snapsql_maint")
    val base = (1L to 600L).map(i => (i, s"r$i")).toDF("id", "s")
    Snapshots.commit(spark, base.filter($"id" <= 200).repartition(4), root)
    Snapshots.append(spark, base.filter($"id" > 200 && $"id" <= 400)
      .repartition(3), root)
    Snapshots.append(spark, base.filter($"id" > 400).repartition(3), root)
    // OPTIMIZE compacts the debt; data identity holds
    val opt = SnapshotSql.sql(spark, s"OPTIMIZE snap.`$root`").head()
    assert(opt.getLong(0) === 4L)
    assert(opt.getInt(1) > 0)
    assert(Snapshots.read(spark, root).count() === 600L)
    // DESCRIBE HISTORY sees every version (catalog form resolves too)
    assert(SnapshotSql.sql(spark, s"DESCRIBE HISTORY snap.`$root`").count() === 4L)
    // RESTORE is the metadata-only undo
    val res = SnapshotSql.sql(spark,
      s"RESTORE TABLE snap.`$root` TO VERSION AS OF 1").head()
    assert(res.getLong(0) === 5L && res.getLong(2) === 200L)
    assert(Snapshots.read(spark, root).count() === 200L)
    // VACUUM trims the log; the restored state stays readable
    val vac = SnapshotSql.sql(spark,
      s"VACUUM snap.`$root` RETAIN 2 VERSIONS").head()
    assert(vac.getInt(0) === 2 && vac.getInt(1) === 3)
    assert(Snapshots.versions(spark, root) === Seq(4L, 5L))
    assert(Snapshots.read(spark, root).count() === 200L)
    // mutating verbs refuse catalog relations
    val e = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark, s"OPTIMIZE snap.`/cat::fact`")
    }
    assert(e.getMessage.contains("read-only"))
  }

  test("INSERT OVERWRITE PARTITION (dynamic) replaces exactly the data's tuples") {
    val root = tmpDir("sqlsnap_dynpart")
    val base = (1L to 90L).map(i => (i, s"g${i % 3}", s"r$i"))
      .toDF("id", "grp", "s")
    Snapshots.commitWithStats(spark, base, root, Seq("id"),
      partitionBy = Seq("grp"))
    val beforeG0 = Snapshots.filesOfVersion(spark, root, 1L)
      .filter(_.contains("__p_grp=g0")).toSet
    // the reload carries g1 and g2 rows only → exactly those two
    // tuples replace; g0 is never mentioned and never touched
    val rec = SnapshotSql.sql(spark,
      s"""INSERT OVERWRITE snap.`$root` PARTITION (grp)
         |SELECT id + 1000, concat('new', s), grp FROM snap.`$root`
         |WHERE grp IN ('g1', 'g2') AND id <= 10""".stripMargin)
      .as[(Long, Int, Int, Long)].head()
    assert(rec._1 === 2L && rec._2 === 0,
      s"clean layout: zero pre-existing rewrites, got $rec")
    assert(rec._4 === 7L, "g1 holds 1,4,7,10 and g2 holds 2,5,8 below 10")
    val after = Snapshots.filesOfVersion(spark, root, 2L).toSet
    assert(beforeG0.subsetOf(after),
      "the unmentioned partition's files must carry by path")
    val got = spark.sql(
      s"SELECT grp, count(*) FROM snap.`$root` GROUP BY grp ORDER BY grp")
      .as[(String, Long)].collect()
    assert(got === Array(("g0", 30L), ("g1", 4L), ("g2", 3L)))
    // an empty SELECT replaces NOTHING — no commit (Spark's dynamic
    // overwrite contract), the receipt reports the current version
    val rec2 = SnapshotSql.sql(spark,
      s"""INSERT OVERWRITE snap.`$root` PARTITION (grp)
         |SELECT id, s, grp FROM snap.`$root` WHERE false""".stripMargin)
      .as[(Long, Int, Int, Long)].head()
    assert(rec2._1 === 2L && rec2._4 === 0L)
    assert(Snapshots.latestVersion(spark, root) === Some(2L))
  }

  test("mixed static+dynamic PARTITION spec replaces within the static slice") {
    val root = tmpDir("sqlsnap_mixpart")
    Snapshots.commitWithStats(spark,
      Seq((1L, "d1", "h1", "a"), (2L, "d1", "h2", "b"),
        (3L, "d2", "h1", "c")).toDF("id", "day", "hr", "s"),
      root, Seq("id"), partitionBy = Seq("day", "hr"))
    // day pinned static, hr dynamic: the batch holds only (d1,h2),
    // so (d1,h1) and the whole d2 slice carry untouched
    val rec = SnapshotSql.sql(spark,
      s"""INSERT OVERWRITE snap.`$root` PARTITION (day = 'd1', hr)
         |SELECT 20L, 'B', 'h2'""".stripMargin)
      .as[(Long, Int, Int, Long)].head()
    assert(rec._1 === 2L && rec._2 === 0 && rec._4 === 1L)
    val got = spark.sql(
      s"SELECT id, day, hr FROM snap.`$root` ORDER BY id")
      .as[(Long, String, String)].collect()
    assert(got === Array((1L, "d1", "h1"), (3L, "d2", "h1"),
      (20L, "d1", "h2")))
  }

  test("INSERT OVERWRITE IF NOT EXISTS: live partition skips, absent and DV-emptied insert") {
    val root = tmpDir("sqlsnap_ine")
    Snapshots.commitWithStats(spark,
      Seq((1L, "g1", "a"), (2L, "g2", "b")).toDF("id", "grp", "s"),
      root, Seq("id"), partitionBy = Seq("grp"))
    // live partition: committed no-op — no new version
    val r1 = SnapshotSql.sql(spark,
      s"""INSERT OVERWRITE snap.`$root` PARTITION (grp = 'g1')
         |IF NOT EXISTS SELECT 10L, 'x'""".stripMargin)
      .as[(Long, Int, Int, Long)].head()
    assert(r1._1 === 1L && r1._4 === 0L)
    assert(Snapshots.latestVersion(spark, root) === Some(1L))
    // absent partition: the insert proceeds
    val r2 = SnapshotSql.sql(spark,
      s"""INSERT OVERWRITE snap.`$root` PARTITION (grp = 'g3')
         |IF NOT EXISTS SELECT 30L, 'z'""".stripMargin)
      .as[(Long, Int, Int, Long)].head()
    assert(r2._1 === 2L && r2._4 === 1L)
    // a DV-emptied partition holds no LIVE row — the probe must see
    // through the deletion vector, not stop at the file's existence
    Snapshots.deleteWhere(spark, root, col("grp") === "g2")
    val r3 = SnapshotSql.sql(spark,
      s"""INSERT OVERWRITE snap.`$root` PARTITION (grp = 'g2')
         |IF NOT EXISTS SELECT 20L, 'y'""".stripMargin)
      .as[(Long, Int, Int, Long)].head()
    assert(r3._4 === 1L,
      "a partition emptied by a deletion vector is NOT EXISTS")
    val got = spark.sql(s"SELECT id, grp FROM snap.`$root` ORDER BY id")
      .as[(Long, String)].collect()
    assert(got === Array((1L, "g1"), (20L, "g2"), (30L, "g3")))
    // IF NOT EXISTS needs a fully static spec — Spark's own parser
    // refuses the dynamic combination before our gate even runs (the
    // runPartitionInsert require is defense-in-depth behind it)
    val err = intercept[
      org.apache.spark.sql.catalyst.parser.ParseException] {
      SnapshotSql.sql(spark,
        s"""INSERT OVERWRITE snap.`$root` PARTITION (grp)
           |IF NOT EXISTS SELECT 40L, 'q', 'g4'""".stripMargin)
    }
    assert(err.getMessage.toUpperCase.contains("IF NOT EXISTS"),
      err.getMessage)
  }

  private def stageFile(df: org.apache.spark.sql.DataFrame, dir: String,
                        name: String): String = {
    val tmp = tmpDir("copy_stage_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.move(part.toPath, dst)
    dst.toString
  }

  test("COPY INTO: idempotent file loads — new files only; replay skips; state survives vacuum") {
    val root = tmpDir("sqlsnap_copy")
    val stage = tmpDir("sqlsnap_copy_src")
    Snapshots.commitWithStats(spark,
      Seq((0L, "seed")).toDF("id", "s"), root, Seq("id"))
    stageFile(Seq((1L, "a")).toDF("id", "s"), stage, "f1.parquet")
    stageFile(Seq((2L, "b")).toDF("id", "s"), stage, "f2.parquet")
    val r1 = SnapshotSql.sql(spark,
      s"COPY INTO snap.`$root` FROM '$stage' FILEFORMAT = PARQUET")
      .as[(Long, Int, Int, Long)].head()
    assert(r1 === ((2L, 2, 0, 2L)))
    // replay: every file already loaded — nothing commits
    val r2 = SnapshotSql.sql(spark,
      s"COPY INTO snap.`$root` FROM '$stage' FILEFORMAT = PARQUET")
      .as[(Long, Int, Int, Long)].head()
    assert(r2 === ((2L, 0, 2, 0L)))
    assert(Snapshots.latestVersion(spark, root) === Some(2L))
    // an ORPHAN ledger (a crashed COPY: ledger written, commit never
    // published) must NOT count as loaded — f3 still loads
    val f3 = s"$stage/f3.parquet"
    val orphan = java.nio.file.Paths.get(root, "_copy", "c-orphan00test.txt")
    java.nio.file.Files.createDirectories(orphan.getParent)
    java.nio.file.Files.write(orphan, s"$f3\t0\t0".getBytes("UTF-8"))
    stageFile(Seq((3L, "c")).toDF("id", "s"), stage, "f3.parquet")
    val r3 = SnapshotSql.sql(spark,
      s"COPY INTO snap.`$root` FROM '$stage' FILEFORMAT = PARQUET")
      .as[(Long, Int, Int, Long)].head()
    assert(r3 === ((3L, 1, 2, 1L)),
      "an unreferenced ledger is a crashed COPY, not loaded state")
    // the orphan reclaims via vacuum (grace 0 for the test); loaded
    // state of REAL copy commits survives the same vacuum: dropped
    // versions' ledgers rename into the permanent k- registry
    val preview = Snapshots.vacuumDryRun(spark, root, keepLast = 1,
      orphanGraceMs = 0L)
    assert(preview.filter(col("kind") === "copy_ledger").as[(String, String)]
      .collect().map(_._2).toSeq === Seq("_copy/c-orphan00test.txt"))
    Snapshots.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0L)
    val copyDir = new java.io.File(root, "_copy")
    val names = copyDir.listFiles().map(_.getName).toSet
    assert(!names.contains("c-orphan00test.txt"), "orphan reclaimed")
    assert(names.count(_.startsWith("k-")) === 1,
      "the vacuumed copy commit's ledger must persist in the k- registry")
    assert(names.count(_.startsWith("c-")) === 1,
      "the LIVE copy commit keeps its own c- ledger")
    val r4 = SnapshotSql.sql(spark,
      s"COPY INTO snap.`$root` FROM '$stage' FILEFORMAT = PARQUET")
      .as[(Long, Int, Int, Long)].head()
    assert(r4._2 === 0 && r4._3 === 3,
      "loaded-file state must survive log truncation")
    assert(spark.sql(s"SELECT count(*) FROM snap.`$root`")
      .as[Long].head() === 4L)
  }

  test("COPY INTO: CSV under the table schema with FORMAT_OPTIONS and PATTERN") {
    val root = tmpDir("sqlsnap_copycsv")
    val stage = tmpDir("sqlsnap_copycsv_src")
    Snapshots.commitWithStats(spark,
      Seq((0L, 0.5, "seed")).toDF("id", "x", "s"), root, Seq("id"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(stage, "batch.csv"),
      "id;x;s\n1;1.5;a\n2;2.5;b\n".getBytes("UTF-8"))
    // a decoy the PATTERN must exclude
    java.nio.file.Files.write(
      java.nio.file.Paths.get(stage, "notes.txt"),
      "9;9.9;nope\n".getBytes("UTF-8"))
    val r = SnapshotSql.sql(spark,
      s"""COPY INTO snap.`$root` FROM '$stage' FILEFORMAT = CSV
         |PATTERN = '*.csv'
         |FORMAT_OPTIONS ('header' = 'true', 'sep' = ';')"""
        .stripMargin).as[(Long, Int, Int, Long)].head()
    assert(r === ((2L, 1, 0, 2L)))
    val got = spark.sql(s"SELECT id, x, s FROM snap.`$root` ORDER BY id")
      .as[(Long, Double, String)].collect()
    assert(got === Array((0L, 0.5, "seed"), (1L, 1.5, "a"), (2L, 2.5, "b")))
    // unsupported format refuses loudly
    val err = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark,
        s"COPY INTO snap.`$root` FROM '$stage' FILEFORMAT = AVRO")
    }
    assert(err.getMessage.contains("FILEFORMAT"), err.getMessage)
  }

  test("SQL metadata verbs: SHOW PARTITIONS, SHOW TABLES IN, DESCRIBE CHANGES") {
    import spark.implicits._
    val base = tmpDir("snapsql_meta")
    val root = s"$base/t"; val cat = s"$base/cat"
    val df = (1L to 90L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    Snapshots.commit(spark, df, root, partitionBy = Seq("grp"))
    Snapshots.append(spark,
      (91L to 100L).map(i => (i, s"g${i % 3}")).toDF("id", "grp"), root)
    val parts = SnapshotSql.sql(spark, s"SHOW PARTITIONS snap.`$root`")
    assert(parts.columns.toSeq === Seq("grp", "n_files"))
    assert(parts.select("grp").as[String].collect().sorted.toSeq ===
      Seq("g0", "g1", "g2"))
    assert(parts.agg(org.apache.spark.sql.functions.min("n_files"))
      .head().getLong(0) >= 1L)
    // unpartitioned tables refuse, like Spark's own verb
    val flat = s"$base/flat"
    Snapshots.commit(spark, df, flat)
    val e = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark, s"SHOW PARTITIONS snap.`$flat`")
    }
    assert(e.getMessage.contains("not partitioned"))
    graft.etl.Catalog.commit(spark, cat,
      Map("t" -> graft.etl.Catalog.Pin(root, 1L)))
    val st = SnapshotSql.sql(spark, s"SHOW TABLES IN snap.`$cat`").collect()
    assert(st.map(r => (r.getString(0), r.getLong(2))).toSeq === Seq(("t", 1L)))
    val ch = SnapshotSql.sql(spark, s"DESCRIBE CHANGES snap.`$root` FROM 1 TO 2")
    assert(ch.filter($"_change_type" === "insert").count() === 10L)
    assert(ch.filter($"_change_type" === "delete").count() === 0L)
  }

  test("CREATE TABLE AS SELECT: birth in SQL, layout clauses land in the log") {
    val base = tmpDir("sqlsnap_ctas")
    val root = s"$base/t"
    ids(1, 200).createOrReplaceTempView("ctas_src")
    val rec = SnapshotSql.sql(spark,
      s"CREATE TABLE snap.`$root` AS SELECT id, s FROM ctas_src;").head()
    assert((rec.getLong(0), rec.getLong(1)) === ((1L, 200L)))
    assert(spark.sql(s"SELECT count(*) FROM snap.`$root`").head().getLong(0) === 200L)
    // CREATE refuses an existing table
    val e = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark, s"CREATE TABLE snap.`$root` AS SELECT 1 AS x")
    }
    assert(e.getMessage.contains("already has committed versions"))
    // partitioned + bucketed birth: both layouts recorded and inherited
    val pt = s"$base/pt"
    SnapshotSql.sql(spark,
      s"""CREATE TABLE snap.`$pt`
         |PARTITIONED BY (grp)
         |CLUSTERED BY (id) SORTED BY (id) INTO 4 BUCKETS
         |AS SELECT id, s, CAST(id % 3 AS STRING) AS grp FROM ctas_src""".stripMargin)
    val m = Snapshots.versionMeta(spark, pt, 1L)
    assert(m.parts === Seq("grp"))
    assert(m.bucket === Some(Snapshots.Bucketing(4, Seq("id"), Seq("id"))))
    // INSERT inherits: new files are partition-pathed and bucket-tagged
    SnapshotSql.sql(spark,
      s"""INSERT INTO snap.`$pt`
         |SELECT id + 1000, s, CAST(id % 3 AS STRING) FROM ctas_src""".stripMargin)
    val fresh = Snapshots.filesOfVersion(spark, pt, 2L)
      .diff(Snapshots.filesOfVersion(spark, pt, 1L))
    assert(fresh.nonEmpty && fresh.forall(f =>
      f.contains("__p_grp=") && "_(\\d+)\\.".r.findFirstIn(
        new org.apache.hadoop.fs.Path(f).getName).nonEmpty))
    assert(SnapshotSql.sql(spark, s"SHOW PARTITIONS snap.`$pt`").count() === 3L)
    // a table born FROM another snapshot table, version-pinned
    val fork = s"$base/fork"
    SnapshotSql.sql(spark,
      s"CREATE TABLE snap.`$fork` AS SELECT * FROM snap.`$pt` VERSION AS OF 1")
    assert(Snapshots.read(spark, fork).count() === 200L)
  }

  test("CREATE TABLE SHALLOW CLONE: zero-copy fork as a statement") {
    val base = tmpDir("sqlsnap_clone")
    val src = s"$base/src"; val dst = s"$base/dst"
    clustered(src, 300)
    Snapshots.append(spark, ids(301, 400), src, Seq("id"))
    val rec = SnapshotSql.sql(spark,
      s"CREATE TABLE snap.`$dst` SHALLOW CLONE snap.`$src` VERSION AS OF 1")
      .head()
    assert((rec.getLong(0), rec.getLong(1)) === ((1L, 300L)))
    // the clone references the source's files in place — no data copied
    assert(Snapshots.filesOfVersion(spark, dst, 1L).toSet ===
      Snapshots.filesOfVersion(spark, src, 1L).toSet)
    assert(spark.sql(s"SELECT count(*) FROM snap.`$dst`").head().getLong(0) === 300L)
  }

  test("MERGE with conditional clauses: MATCHED-AND-UPDATE, MATCHED-AND-DELETE") {
    val root = tmpDir("sqlsnap_merge_clauses")
    clustered(root, 400)
    ids(381, 420).withColumn("s", lit("src"))
      .createOrReplaceTempView("mc_src")
    val rec = SnapshotSql.sql(spark,
      s"""MERGE INTO snap.`$root` t USING mc_src u
         |ON t.id = u.id
         |WHEN MATCHED AND t.id % 2 = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET s = concat(t.s, '+', u.s)
         |WHEN NOT MATCHED AND u.id <= 410 THEN INSERT *""".stripMargin).head()
    // receipt: (version, files_rewritten, files_total, rows_updated,
    // rows_deleted, rows_inserted)
    assert(rec.getLong(0) === 2L)
    assert(rec.getInt(1) > 0 && rec.getInt(1) < rec.getInt(2),
      "clause merge keeps the bounded-rewrite contract")
    assert(rec.getLong(3) === 10L) // odd ids 381..399 matched-update
    assert(rec.getLong(4) === 10L) // even ids 382..400 matched-delete
    assert(rec.getLong(5) === 10L) // 401..410 inserted
    val after = Snapshots.read(spark, root)
    assert(after.count() === 400L - 10L + 10L)
    assert(after.filter($"id" === 382L).count() === 0L)
    assert(after.filter($"id" === 381L).select("s").head().getString(0) === "r381+src")
    assert(after.filter($"id" === 405L).select("s").head().getString(0) === "src")
    assert(after.filter($"id" === 415L).count() === 0L, "insert condition filters")
    // rows untouched by any clause survive verbatim
    assert(after.filter($"id" === 5L).select("s").head().getString(0) === "r5")
  }

  test("DESCRIBE DETAIL + SHOW CREATE TABLE; the emitted script reproduces the table") {
    val base = tmpDir("sqlsnap_detail")
    val root = s"$base/t"
    ids(1, 100).withColumn("grp", (col("id") % 2).cast("string"))
      .createOrReplaceTempView("dt_src")
    SnapshotSql.sql(spark,
      s"""CREATE TABLE snap.`$root`
         |PARTITIONED BY (grp)
         |CLUSTERED BY (id) SORTED BY (id) INTO 4 BUCKETS
         |AS SELECT * FROM dt_src""".stripMargin)
    SnapshotSql.sql(spark,
      s"ALTER TABLE snap.`$root` ADD CONSTRAINT pos CHECK (id > 0)")
    val det = SnapshotSql.sql(spark, s"DESCRIBE DETAIL snap.`$root`").head()
    assert(det.getString(0) === root)
    assert(det.getLong(1) === 2L)
    assert(det.getLong(2) === 100L)
    assert(det.getInt(3) > 0 && det.getLong(4) > 0L)
    assert(det.getString(5) === "grp")
    assert(det.getString(6) === "id INTO 4 BUCKETS")
    assert(det.getInt(7) === 1 && !det.getBoolean(8))
    // the emitted script is EXECUTABLE: replaying it against a fresh
    // root reproduces schema, both layouts, and the policy
    val stmts = SnapshotSql.sql(spark, s"SHOW CREATE TABLE snap.`$root`")
      .as[String].collect()
    assert(stmts.length === 2)
    val re = s"$base/re"
    stmts.map(_.replace(s"snap.`$root`", s"snap.`$re`"))
      .foreach(st => SnapshotSql.sql(spark, st))
    assert(Snapshots.tableSchema(spark, re) === Snapshots.tableSchema(spark, root))
    val m = Snapshots.versionMeta(spark, re,
      Snapshots.latestVersion(spark, re).get)
    assert(m.parts === Seq("grp"))
    assert(m.bucket === Some(Snapshots.Bucketing(4, Seq("id"), Seq("id"))))
    assert(m.constraints.map(_._1) === Seq("pos"))
    // the recreated EMPTY table is readable and accepts INSERT
    assert(spark.sql(s"SELECT count(*) AS n FROM snap.`$re`")
      .head().getLong(0) === 0L)
    SnapshotSql.sql(spark, s"INSERT INTO snap.`$re` SELECT * FROM dt_src")
    assert(Snapshots.read(spark, re).count() === 100L)
    // and its replayed constraint enforces
    intercept[IllegalArgumentException] {
      Snapshots.append(spark,
        Seq((-5L, "x", "1")).toDF("id", "s", "grp"), re)
    }
  }

  test("INSERT with a column list fills unnamed columns with NULL") {
    val root = tmpDir("sqlsnap_collist")
    Snapshots.commit(spark,
      Seq((1L, "a", 1.5)).toDF("id", "s", "x"), root)
    val rec = SnapshotSql.sql(spark,
      s"INSERT INTO snap.`$root` (x, id) SELECT 9.5, 77").head()
    assert(rec.getLong(0) === 2L)
    val got = Snapshots.read(spark, root).filter($"id" === 77L).head()
    assert(got.isNullAt(1) && got.getDouble(2) === 9.5)
    // unknown / duplicate / arity-mismatched lists refuse
    intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark, s"INSERT INTO snap.`$root` (nope) SELECT 1")
    }
    intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark, s"INSERT INTO snap.`$root` (id, id) SELECT 1, 2")
    }
    intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark, s"INSERT INTO snap.`$root` (id, x) SELECT 1")
    }
  }

  test("CREATE OR REPLACE + DROP TABLE: the full SQL lifecycle converges on re-run") {
    val root = tmpDir("sqlsnap_lifecycle")
    ids(1, 30).createOrReplaceTempView("lc_src")
    SnapshotSql.sql(spark,
      s"CREATE TABLE snap.`$root` AS SELECT * FROM lc_src")
    // a re-run CTAS refuses (CREATE never replaces)…
    val e = intercept[Exception] {
      SnapshotSql.sql(spark,
        s"CREATE TABLE snap.`$root` AS SELECT * FROM lc_src")
    }
    assert(e.getMessage.contains("already has committed versions"))
    // …while the OR REPLACE pipeline CONVERGES on re-run
    (1 to 2).foreach { _ =>
      SnapshotSql.sql(spark,
        s"""CREATE OR REPLACE TABLE snap.`$root`
           |PARTITIONED BY (s)
           |AS SELECT id, s FROM lc_src WHERE id <= 10""".stripMargin)
    }
    assert(SnapshotSql.sql(spark,
      s"SELECT count(*) AS n FROM snap.`$root`").head().getLong(0) === 10L)
    // old versions stay readable until vacuumed (time travel intact)
    assert(SnapshotSql.sql(spark,
      s"SELECT count(*) AS n FROM snap.`$root` VERSION AS OF 1")
      .head().getLong(0) === 30L)
    assert(Snapshots.versionMeta(spark, root,
      Snapshots.latestVersion(spark, root).get).parts === Seq("s"))
    // DROP TABLE: tombstone; SELECT refuses; pre-drop versions remain
    val tomb = SnapshotSql.sql(spark, s"DROP TABLE snap.`$root`").head()
    assert(tomb.getLong(0) === 4L)
    assert(intercept[Exception] {
      SnapshotSql.sql(spark, s"SELECT * FROM snap.`$root`").collect()
    }.getMessage.contains("DROPPED"))
    assert(SnapshotSql.sql(spark,
      s"SELECT count(*) AS n FROM snap.`$root` VERSION AS OF 3")
      .head().getLong(0) === 10L)
    // RESTORE is the undrop
    SnapshotSql.sql(spark,
      s"RESTORE snap.`$root` TO VERSION AS OF 3")
    assert(SnapshotSql.sql(spark,
      s"SELECT count(*) AS n FROM snap.`$root`").head().getLong(0) === 10L)
    // drop again; CREATE revives; VACUUM reclaims the dead bytes
    SnapshotSql.sql(spark, s"DROP TABLE snap.`$root`")
    SnapshotSql.sql(spark,
      s"CREATE TABLE snap.`$root` AS SELECT id FROM lc_src WHERE id = 1")
    assert(SnapshotSql.sql(spark,
      s"SELECT * FROM snap.`$root`").columns.toSeq === Seq("id"))
    SnapshotSql.sql(spark, s"DROP TABLE snap.`$root`")
    SnapshotSql.sql(spark, s"VACUUM snap.`$root` RETAIN 1 VERSIONS")
    assert(Snapshots.versions(spark, root).size === 1)
    // the SQL verb honors the in-flight-commit orphan grace (24h);
    // eager reclaim is the API call with grace 0 — the dirs then go
    Snapshots.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0L)
    val dataDir = new java.io.File(s"$root/data")
    assert(!dataDir.exists() ||
      dataDir.listFiles().forall(_.getName.startsWith(".")),
      "vacuum to the tombstone must reclaim every data dir")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: the dimension-sync statement") {
    val root = tmpDir("sqlsnap_nmbs")
    Snapshots.commitWithStats(spark,
      (1L to 60L).map(i => (i, i * 1.0, "live")).toDF("id", "x", "status")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    (1L to 20L).map(i => (i, i * 2.0, "live")).toDF("id", "x", "status")
      .createOrReplaceTempView("nmbs_src")
    val rec = SnapshotSql.sql(spark,
      s"""MERGE INTO snap.`$root` t USING nmbs_src u
         |ON t.id = u.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED BY SOURCE AND t.id <= 40 THEN UPDATE SET status = 'expired'
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).head()
    // receipt: (version, rewritten, total, updated, deleted, inserted)
    assert(rec.getLong(3) === 20L + 20L)
    assert(rec.getLong(4) === 20L)
    assert(rec.getLong(5) === 0L)
    assert(rec.getInt(1) === rec.getInt(2), "honest full-scan receipt")
    val after = Snapshots.read(spark, root)
    assert(after.count() === 40L)
    assert(after.filter(col("status") === "expired").count() === 20L)
    assert(after.filter(col("id") === 10L).head().getDouble(1) === 20.0)
  }

  test("MERGE with a column-subset source: SET * keeps unnamed columns, INSERT NULL-fills") {
    val root = tmpDir("sqlsnap_subset")
    Snapshots.commitWithStats(spark,
      (1L to 40L).map(i => (i, i * 1.0, s"s$i")).toDF("id", "x", "s")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    Seq((5L, 500.0), (7777L, 7.0)).toDF("id", "x")
      .createOrReplaceTempView("subset_src")
    val rec = SnapshotSql.sql(spark,
      s"""MERGE INTO snap.`$root` t USING subset_src u
         |ON t.id = u.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    // subset source routes to the clause writer (6-column receipt)
    assert(rec.length === 6 && rec.getLong(3) === 1L && rec.getLong(5) === 1L)
    val after = Snapshots.read(spark, root)
    val u = after.filter(col("id") === 5L).head()
    assert(u.getDouble(1) === 500.0 && u.getString(2) === "s5")
    val i = after.filter(col("id") === 7777L).head()
    assert(i.getDouble(1) === 7.0 && i.isNullAt(2))
  }

  test("MERGE WITH SCHEMA EVOLUTION: the statement extends the table schema") {
    val root = tmpDir("sqlsnap_evo")
    Snapshots.commitWithStats(spark,
      (1L to 30L).map(i => (i, i * 1.0)).toDF("id", "x")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    Seq((3L, 300.0, "gold"), (9999L, 9.0, "silver"))
      .toDF("id", "x", "tier").createOrReplaceTempView("evo_src")
    // without the clause the extra column refuses
    val e = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark,
        s"""MERGE INTO snap.`$root` t USING evo_src u ON t.id = u.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("SCHEMA EVOLUTION"))
    val rec = SnapshotSql.sql(spark,
      s"""MERGE WITH SCHEMA EVOLUTION INTO snap.`$root` t
         |USING evo_src u ON t.id = u.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert(rec.getLong(3) === 1L && rec.getLong(5) === 1L)
    val after = SnapshotSql.sql(spark,
      s"SELECT tier, count(*) AS n FROM snap.`$root` GROUP BY tier ORDER BY tier NULLS FIRST")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
    assert(after === Seq((None, 29L), (Some("gold"), 1L), (Some("silver"), 1L)))
  }

  test("MERGE WHEN NOT MATCHED THEN INSERT (cols) VALUES (...): the column-list insert") {
    val root = tmpDir("sqlsnap_collist")
    Snapshots.commitWithStats(spark,
      (1L to 40L).map(i => (i, i * 1.0, s"s$i")).toDF("id", "x", "s")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    Seq((5L, 500.0), (7777L, 7.0)).toDF("id", "x")
      .createOrReplaceTempView("collist_src")
    val rec = SnapshotSql.sql(spark,
      s"""MERGE INTO snap.`$root` t USING collist_src u
         |ON t.id = u.id
         |WHEN MATCHED THEN UPDATE SET x = u.x
         |WHEN NOT MATCHED THEN INSERT (id, x) VALUES (u.id, u.x * 10.0)"""
        .stripMargin).head()
    assert(rec.getLong(3) === 1L && rec.getLong(5) === 1L)
    val after = Snapshots.read(spark, root)
    assert(after.count() === 41L)
    val u = after.filter(col("id") === 5L).head()
    assert(u.getDouble(1) === 500.0 && u.getString(2) === "s5")
    // the inserted row takes the VALUES expressions; the unnamed
    // column (s) NULL-fills — the column-list INSERT rule
    val i = after.filter(col("id") === 7777L).head()
    assert(i.getDouble(1) === 70.0 && i.isNullAt(2))
    // an unknown insert column refuses loudly
    val e = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark,
        s"""MERGE INTO snap.`$root` t USING collist_src u ON t.id = u.id
           |WHEN NOT MATCHED THEN INSERT (nope) VALUES (u.x)""".stripMargin)
    }
    assert(e.getMessage.contains("not a column"))
  }

  test("MERGE with several NOT MATCHED insert clauses: first-match-wins routing") {
    import spark.implicits._
    val root = tmpDir("sqlsnap_multiins")
    Snapshots.commitWithStats(spark,
      (1L to 40L).map(i => (i, i * 1.0, "base")).toDF("id", "x", "s")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    // unmatched rows: 100 (priced, matches clause 1), 200 (cheap,
    // falls to clause 2), 300 (priced — clause ORDER must route it to
    // clause 1 even though clause 2's condition also holds)
    Seq((5L, 500.0), (100L, 50.0), (200L, 1.0), (300L, 99.0))
      .toDF("id", "x").createOrReplaceTempView("multiins_src")
    val rec = SnapshotSql.sql(spark,
      s"""MERGE INTO snap.`$root` t USING multiins_src u ON t.id = u.id
         |WHEN MATCHED THEN UPDATE SET x = u.x
         |WHEN NOT MATCHED AND u.x >= 10.0
         |  THEN INSERT (id, x, s) VALUES (u.id, u.x, 'priced')
         |WHEN NOT MATCHED AND u.x < 1000.0
         |  THEN INSERT (id, x, s) VALUES (u.id, 0.0, 'default')"""
        .stripMargin).head()
    // receipt: totals plus the per-clause breakdown column
    assert(rec.getLong(3) === 1L && rec.getLong(5) === 3L)
    assert(rec.getString(6) === "2,1",
      "the receipt must pin per-clause insert counts in clause order")
    val got = Snapshots.read(spark, root)
      .filter(col("id") >= 100L).orderBy("id")
      .as[(Long, Double, String)].collect()
    assert(got === Array((100L, 50.0, "priced"), (200L, 0.0, "default"),
      (300L, 99.0, "priced")),
      "each unmatched row must take its FIRST passing clause")
    // a row matching NO insert clause is simply not inserted
    Seq((9999L, 1.0)).toDF("id", "x").createOrReplaceTempView("multiins_none")
    val rec2 = SnapshotSql.sql(spark,
      s"""MERGE INTO snap.`$root` t USING multiins_none u ON t.id = u.id
         |WHEN NOT MATCHED AND u.x > 100.0
         |  THEN INSERT (id, x) VALUES (u.id, u.x)
         |WHEN NOT MATCHED AND u.x > 50.0
         |  THEN INSERT (id, x) VALUES (u.id, 0.0)""".stripMargin).head()
    assert(rec2.getLong(5) === 0L && rec2.getString(6) === "0,0")
    assert(Snapshots.read(spark, root).filter(col("id") === 9999L).count() === 0L)
    // single-clause receipts keep their documented 6-column shape
    val rec3 = SnapshotSql.sql(spark,
      s"""MERGE INTO snap.`$root` t USING multiins_none u ON t.id = u.id
         |WHEN NOT MATCHED THEN INSERT (id, x) VALUES (u.id, u.x)"""
        .stripMargin)
    assert(rec3.columns.length === 6)
  }

  test("MERGE explicit clauses may carry source-only discriminator columns") {
    import spark.implicits._
    val root = tmpDir("sqlsnap_opcol")
    Snapshots.commitWithStats(spark,
      (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "x").coalesce(1),
      root, Seq("id"))
    // the CDC-apply idiom: the source carries an op column that is
    // NOT a table column; every action is explicit, so it rides the
    // source alias as a clause-condition discriminator
    Seq((3L, 333.0, "U"), (7L, 0.0, "D"), (50L, 5.0, "U"))
      .toDF("id", "x", "op").createOrReplaceTempView("opcol_src")
    val rec = SnapshotSql.sql(spark,
      s"""MERGE INTO snap.`$root` t USING opcol_src u ON t.id = u.id
         |WHEN MATCHED AND u.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET x = u.x
         |WHEN NOT MATCHED AND u.op <> 'D'
         |  THEN INSERT (id, x) VALUES (u.id, u.x)""".stripMargin).head()
    assert((rec.getLong(3), rec.getLong(4), rec.getLong(5)) === ((1L, 1L, 1L)))
    val after = Snapshots.read(spark, root)
    assert(after.count() === 20L)
    assert(after.filter(col("id") === 3L).head().getDouble(1) === 333.0)
    assert(after.filter(col("id") === 7L).count() === 0L)
    assert(after.filter(col("id") === 50L).head().getDouble(1) === 5.0)
    assert(!after.columns.contains("op"),
      "a discriminator column must never enter the table schema")
    // with a STAR action the same source still refuses (drift guard)
    val e = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark,
        s"""MERGE INTO snap.`$root` t USING opcol_src u ON t.id = u.id
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    assert(e.getMessage.contains("not columns of"))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens lossless types (int key becomes long)") {
    val root = tmpDir("sqlsnap_widen")
    Snapshots.commitWithStats(spark,
      (1 to 30).map(i => (i, i.toFloat)).toDF("id", "x")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    Seq((5L, 500.0), (9999999999L, 9.0)).toDF("id", "x")
      .createOrReplaceTempView("widen_src")
    val rec = SnapshotSql.sql(spark,
      s"""MERGE WITH SCHEMA EVOLUTION INTO snap.`$root` t
         |USING widen_src u ON t.id = u.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert(rec.getLong(3) === 1L && rec.getLong(5) === 1L)
    val after = Snapshots.read(spark, root)
    import org.apache.spark.sql.types._
    assert(after.schema("id").dataType === LongType)
    assert(after.schema("x").dataType === DoubleType)
    assert(after.count() === 31L)
    // carried pre-widening files read up through the widened schema
    assert(after.filter(col("id") === 20L).head().getDouble(1) === 20.0)
    assert(after.filter(col("id") === 5L).head().getDouble(1) === 500.0)
    assert(after.filter(col("id") === 9999999999L).count() === 1L)
    // pre-widening versions keep their own logged schema
    val v1 = Snapshots.read(spark, root, Some(1L))
    assert(v1.schema("id").dataType === IntegerType)
    assert(v1.schema("x").dataType === FloatType)
    // a lossy type change still refuses, flag or no flag
    Seq(("5", "oops")).toDF("id", "x").createOrReplaceTempView("widen_bad")
    val e = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark,
        s"""MERGE WITH SCHEMA EVOLUTION INTO snap.`$root` t
           |USING widen_bad u ON t.id = u.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("lossless"))
    // the NARROW PRODUCER keeps working: an (int, float) batch appends
    // to the widened (long, double) table — cast up at the write
    // boundary, files schema-exact, values intact
    val v = Snapshots.append(spark,
      (100 to 102).map(i => (i, i.toFloat)).toDF("id", "x"), root)
    val afterA = Snapshots.read(spark, root, Some(v))
    assert(afterA.schema("id").dataType === LongType)
    assert(afterA.filter(col("id") === 101L).head().getDouble(1) === 101.0)
    assert(afterA.count() === 34L)
    // a NON-widenable batch type still refuses, with no orphan left
    val dirsBefore = new java.io.File(s"$root/data").listFiles().length
    intercept[IllegalArgumentException] {
      Snapshots.append(spark,
        Seq(("oops", 1.0)).toDF("id", "x"), root)
    }
    assert(new java.io.File(s"$root/data").listFiles().length === dirsBefore,
      "a refused append must not strand its staged dir")
  }

  test("ALTER COLUMN TYPE: explicit widening DDL, metadata-only; lossy and layout columns refuse") {
    import org.apache.spark.sql.types._
    val root = tmpDir("sqlsnap_altertype")
    Snapshots.commitWithStats(spark,
      (1 to 40).map(i => (i, i.toFloat, i % 4)).toDF("k", "x", "p")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      root, Seq("k"), partitionBy = Seq("p"))
    val layout0 = Snapshots.versionMeta(spark, root, 1L).layoutId
    // the migration order the statement exists for: widen FIRST...
    val rec = SnapshotSql.sql(spark,
      s"ALTER TABLE snap.`$root` ALTER COLUMN k TYPE BIGINT").head()
    assert(rec.getLong(0) === 2L)
    // metadata-only: the new version re-points the SAME layout
    assert(Snapshots.versionMeta(spark, root, 2L).layoutId === layout0)
    assert(Snapshots.tableSchema(spark, root)("k").dataType === LongType)
    // ...then flip the producer: a wide batch appends a key the
    // narrow type cannot represent; carried narrow files read up
    Snapshots.append(spark,
      Seq((3000000000L, 1.5f, 1)).toDF("k", "x", "p"), root)
    assert(SnapshotSql.sql(spark,
      s"SELECT CAST(SUM(k) AS BIGINT) AS s FROM snap.`$root`")
      .head().getLong(0) === (1 to 40).map(_.toLong).sum + 3000000000L)
    // the NARROW producer still works post-widening (write-boundary up-cast)
    Snapshots.append(spark, Seq((41, 41.0f, 1)).toDF("k", "x", "p"), root)
    assert(Snapshots.read(spark, root).count() === 42L)
    // same-type is an idempotent no-op: no new version
    assert(SnapshotSql.sql(spark,
      s"ALTER TABLE snap.`$root` ALTER COLUMN k TYPE BIGINT")
      .head().getLong(0) === 4L)
    assert(Snapshots.versions(spark, root).last === 4L)
    // lossy refusal (double -> int is a narrowing; float -> int too)
    val e1 = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark, s"ALTER TABLE snap.`$root` ALTER COLUMN x TYPE INT")
    }
    assert(e1.getMessage.contains("lossless"))
    // partition-column refusal: files were laid out under the narrow type
    val e2 = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark, s"ALTER TABLE snap.`$root` ALTER COLUMN p TYPE BIGINT")
    }
    assert(e2.getMessage.contains("partition/bucket"))
    // bucket-column refusal: the bucket hashes were computed narrow
    val broot = tmpDir("sqlsnap_altertype_b")
    Snapshots.commit(spark, (1 to 20).map(i => (i, s"r$i")).toDF("id", "s"),
      broot, bucketBy = Some(Snapshots.Bucketing(4, Seq("id"))))
    val e3 = intercept[IllegalArgumentException] {
      SnapshotSql.sql(spark, s"ALTER TABLE snap.`$broot` ALTER COLUMN id TYPE BIGINT")
    }
    assert(e3.getMessage.contains("partition/bucket"))
    // float -> double widens (the non-key axis of the whitelist)
    SnapshotSql.sql(spark, s"ALTER TABLE snap.`$root` ALTER COLUMN x TYPE DOUBLE")
    assert(Snapshots.tableSchema(spark, root)("x").dataType === DoubleType)
    assert(Snapshots.read(spark, root).filter(col("k") === 20L)
      .head().getDouble(1) === 20.0)
  }

  test("CREATE OR REPLACE ... SHALLOW CLONE re-points a live destination") {
    val base = tmpDir("sqlsnap_clone_rp")
    val (s1, s2, dst) = (s"$base/s1", s"$base/s2", s"$base/d")
    Snapshots.commit(spark, ids(1, 10), s1)
    Snapshots.commit(spark, ids(1, 25), s2)
    SnapshotSql.sql(spark,
      s"CREATE TABLE snap.`$dst` SHALLOW CLONE snap.`$s1`")
    // plain CLONE refuses the live destination…
    intercept[Exception] {
      SnapshotSql.sql(spark,
        s"CREATE TABLE snap.`$dst` SHALLOW CLONE snap.`$s2`")
    }
    // …OR REPLACE re-points it, history intact
    SnapshotSql.sql(spark,
      s"CREATE OR REPLACE TABLE snap.`$dst` SHALLOW CLONE snap.`$s2`")
    assert(SnapshotSql.sql(spark,
      s"SELECT count(*) AS n FROM snap.`$dst`").head().getLong(0) === 25L)
    assert(SnapshotSql.sql(spark,
      s"SELECT count(*) AS n FROM snap.`$dst` VERSION AS OF 1")
      .head().getLong(0) === 10L)
  }

  test("RESTORE TO TIMESTAMP AS OF resolves by commit clock; VACUUM DRY RUN previews without mutating") {
    val root = tmpDir("sqlsnap_ts_dry")
    // full-replace commits: each version has its OWN dir, so dropped
    // versions' dirs genuinely unpin (appends would carry them all)
    Snapshots.commit(spark, ids(1, 10), root)
    Snapshots.commit(spark, ids(1, 15), root)
    Snapshots.commit(spark, ids(1, 20), root)
    // pin the commit clock: v1 at now-3h, v2 at now-2h, v3 at now-1h
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).getRawFileSystem
    val now = System.currentTimeMillis()
    (1 to 3).foreach { v =>
      f.setTimes(new org.apache.hadoop.fs.Path(
          s"$root/_versions/" + f"v$v%08d.json"),
        now - (4 - v) * 3600L * 1000L, -1)
    }
    // "90 minutes ago" lands between v2 and v3 → restore to v2's state
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val ts = java.time.Instant.ofEpochMilli(now - 90L * 60 * 1000)
      .atZone(java.time.ZoneId.of(tz))
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
    val rec = SnapshotSql.sql(spark,
      s"RESTORE TABLE snap.`$root` TO TIMESTAMP AS OF '$ts'").head()
    assert(rec.getLong(0) === 4L && rec.getLong(1) === 2L)
    assert(Snapshots.read(spark, root).count() === 15L)
    // DRY RUN: keepLast=2 keeps v3+v4; v4 re-points at v2's layout so
    // v2's data dir is PINNED — only v1's dir (aged past the grace)
    // and the two version files preview as reclaimable
    val dir1 = Snapshots.filesOfVersion(spark, root, 1L).head
      .split('/').dropRight(1).last
    f.setTimes(new org.apache.hadoop.fs.Path(s"$root/data/$dir1"),
      now - 25L * 3600 * 1000, -1)
    val plan = SnapshotSql.sql(spark,
      s"VACUUM snap.`$root` RETAIN 2 VERSIONS DRY RUN")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(plan.filter(_._1 == "version").map(_._2).sorted ===
      Seq("_versions/v00000001.json", "_versions/v00000002.json"))
    assert(plan.filter(_._1 == "data_dir").map(_._2) === Seq(s"data/$dir1"))
    // the preview mutated NOTHING
    assert(Snapshots.versions(spark, root) === (1L to 4L))
    assert(new java.io.File(s"$root/data/$dir1").exists())
    // the real statement reclaims exactly what the preview listed
    SnapshotSql.sql(spark, s"VACUUM snap.`$root` RETAIN 2 VERSIONS")
    assert(Snapshots.versions(spark, root) === Seq(3L, 4L))
    assert(!new java.io.File(s"$root/data/$dir1").exists())
    assert(Snapshots.read(spark, root).count() === 15L,
      "the restore target's pinned dir must survive the reclaim")
  }

  test("VACUUM RETAIN n HOURS routes to time-based retention") {
    val root = tmpDir("sqlsnap_vac_hours")
    clustered(root, 50)
    Snapshots.append(spark, ids(51, 60), root)
    Snapshots.append(spark, ids(61, 70), root)
    // age v1/v2 beyond a 1-hour horizon; v3 stays fresh
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).getRawFileSystem
    val now = System.currentTimeMillis()
    Seq(1, 2).foreach { v =>
      f.setTimes(new org.apache.hadoop.fs.Path(
        s"$root/_versions/" + f"v$v%08d.json"), now - 2 * 3600L * 1000L, -1)
    }
    val rec = SnapshotSql.sql(spark,
      s"VACUUM snap.`$root` RETAIN 1 HOURS").head()
    assert((rec.getInt(0), rec.getInt(1)) === ((1, 2)))
    assert(Snapshots.versions(spark, root) === Seq(3L))
    assert(Snapshots.read(spark, root).count() === 70L)
  }

  test("VACUUM DRY RUN requires whitespace before the keyword") {
    val root = tmpDir("sqlsnap_vac_nospace")
    clustered(root, 20)
    Snapshots.append(spark, ids(21, 30), root)
    // 'VERSIONSDRY RUN' must NOT parse as a valid dry-run statement —
    // it falls through the verb regexes and dies in Spark's parser
    intercept[Exception] {
      SnapshotSql.sql(spark, s"VACUUM snap.`$root` RETAIN 2 VERSIONSDRY RUN")
    }
    assert(Snapshots.versions(spark, root) === Seq(1L, 2L),
      "the malformed statement must reclaim nothing")
    // the well-formed statement still routes to the preview
    assert(SnapshotSql.sql(spark,
      s"VACUUM snap.`$root` RETAIN 2 VERSIONS DRY RUN").columns.toSeq ===
      Seq("kind", "path"))
  }

  test("DESCRIBE CHANGES ... KEYED BY lands the full CDF vocabulary in SQL") {
    import spark.implicits._
    val root = tmpDir("sqlsnap_keyed")
    Snapshots.commitWithStats(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), root, Seq("id"))
    Snapshots.merge(spark, Seq((1L, "A2"), (9L, "new")).toDF("id", "s"),
      root, "id", Seq("id"))
    val rows = SnapshotSql.sql(spark,
      s"DESCRIBE CHANGES snap.`$root` FROM 1 TO 2 KEYED BY id")
      .orderBy("id", "s").select("id", "s", "_change_type")
      .as[(Long, String, String)].collect()
    assert(rows === Array((1L, "A2", "update_postimage"),
      (1L, "a", "update_preimage"), (9L, "new", "insert")),
      "the upsert must reclassify as update_preimage/update_postimage in SQL")
    // a backtick-quoted key routes identically
    assert(SnapshotSql.sql(spark,
      s"DESCRIBE CHANGES snap.`$root` FROM 1 TO 2 KEYED BY `id`")
      .count() === 3L)
  }

  test("MERGE costs ONE version-metadata read per statement (probe reused by the body)") {
    import spark.implicits._
    val root = tmpDir("sqlsnap_onemeta")
    Snapshots.commitWithStats(spark,
      (1L to 100L).map(i => (i, i * 1.0, "base")).toDF("id", "x", "s")
        .coalesce(1), root, Seq("id"))
    Seq((3L, 30.0, "u"), (200L, 2.0, "n")).toDF("id", "x", "s")
      .createOrReplaceTempView("onemeta_src")
    // warm the lastTag hint path so the pin measures the statement,
    // not first-touch cache effects
    Snapshots.lastTag(spark, root)
    // plain upsert route: the router's probe IS the body's meta
    val m0 = Snapshots.metaReads.get()
    SnapshotSql.sql(spark,
      s"""MERGE INTO snap.`$root` t USING onemeta_src u ON t.id = u.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert(Snapshots.metaReads.get() - m0 === 1L,
      "a plain-upsert MERGE statement must read the version meta once")
    // clause route: same single probe rides into mergeClauses
    val m1 = Snapshots.metaReads.get()
    SnapshotSql.sql(spark,
      s"""MERGE INTO snap.`$root` t USING onemeta_src u ON t.id = u.id
         |WHEN MATCHED AND u.x > 5.0 THEN UPDATE SET x = u.x + 1.0
         |WHEN NOT MATCHED THEN INSERT (id, x) VALUES (u.id, u.x)"""
        .stripMargin).head()
    assert(Snapshots.metaReads.get() - m1 === 1L,
      "a clause-form MERGE statement must read the version meta once")
  }

  test("ALTER TABLE ADD CONSTRAINT with a CHECK over two lines survives the version log") {
    val root = tmpDir("sqlsnap_multiline_check")
    Snapshots.commit(spark, ids(1, 10), root)
    SnapshotSql.sql(spark,
      s"ALTER TABLE snap.`$root` ADD CONSTRAINT c CHECK (id > 0\n AND id < 100)")
    assert(Snapshots.constraintsOf(spark, root) === Seq(("c", "id > 0\n AND id < 100")))
    val last = Snapshots.history(spark, root).orderBy(desc("version")).head()
    assert(last.getAs[Int]("n_constraints") === 1)
    val e = intercept[IllegalArgumentException] {
      Snapshots.append(spark, ids(500, 500), root)
    }
    assert(e.getMessage.contains("violate table constraints"), e.getMessage)
  }

  test("canHit translation: And keeps the provable half; Or requires both") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    val id = AttributeReference("id", LongType)()
    val s = AttributeReference("s", org.apache.spark.sql.types.StringType)()
    val cols = Set("id")
    val and = And(GreaterThanOrEqual(id, Literal(5L)), EqualTo(s, Literal("x")))
    assert(SnapshotFileIndex.canHit(and, cols).isDefined)
    val orProvable = Or(EqualTo(id, Literal(1L)), EqualTo(id, Literal(9L)))
    assert(SnapshotFileIndex.canHit(orProvable, cols).isDefined)
    val orHalf = Or(EqualTo(id, Literal(1L)), EqualTo(s, Literal("x")))
    assert(SnapshotFileIndex.canHit(orHalf, cols).isEmpty,
      "a half-provable OR must not prune")
    assert(SnapshotFileIndex.canHit(EqualTo(id, Literal(null, LongType)), cols).isEmpty)
  }
}
