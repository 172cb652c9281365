package graft

import graft.etl.{Load, Snapshots, Transform}
import org.apache.spark.sql.functions._

/** S4/S5/S6/S8 sink semantics over the parquet-backed table
  * stand-in.
  */
class LoadSpec extends SparkSpec {
  import spark.implicits._

  test("scrub maps NaN/±Inf to null, leaves values") {
    val df = Seq(1.5, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .toDF("x")
    val got = Load.scrub(df).as[Option[Double]].collect().toSeq
    assert(got === Seq(Some(1.5), None, None, None))
  }

  test("upsert: insert then latest-wins update on the business key") {
    val path = tmpDir("fact") + "/t"
    val v1 = Seq(("o1", "a", 1.0), ("o2", "b", 2.0)).toDF("Order ID", "Items", "Amount")
    Load.upsert(spark, v1, path, Seq("order_id", "items"))
    val v2 = Seq(("o1", "a", 9.0), ("o3", "c", 3.0)).toDF("Order ID", "Items", "Amount")
    Load.upsert(spark, v2, path, Seq("order_id", "items"))
    val got = Load.readTable(spark, path)
      .select("order_id", "items", "amount")
      .orderBy("order_id").as[(String, String, Double)].collect().toSeq
    assert(got === Seq(("o1", "a", 9.0), ("o2", "b", 2.0), ("o3", "c", 3.0)))
    // idempotent: re-upserting the same batch changes nothing
    Load.upsert(spark, v2, path, Seq("order_id", "items"))
    assert(Load.readTable(spark, path).count() === 3)
  }

  test("upsert rewrites ONLY the partitions containing incoming keys") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val path = tmpDir("pruned") + "/t"
    val keys = Seq("order_id", "items")
    val v1 = (1 to 300).map(i => (s"o$i", s"i$i", 1.0))
      .toDF("order_id", "items", "amount")
    Load.upsert(spark, v1, path, keys)

    def files(): Map[String, String] =
      Files.walk(Paths.get(path)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map { p =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          val h = md.digest(Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
          Paths.get(path).relativize(p).toString -> h
        }.toMap

    val before = files()
    val v2 = Seq(("o1", "i1", 9.0)).toDF("order_id", "items", "amount")
    val touched = v2.select(Load.bucketOf(keys)).as[Long].head()
    Load.upsert(spark, v2, path, keys)
    val after = files()

    def untouched(m: Map[String, String]) =
      m.filterNot(_._1.startsWith(s"__bucket=$touched"))
    // untouched partitions: the exact same files, byte for byte
    assert(untouched(before) === untouched(after))
    assert(untouched(before).nonEmpty)
    // the touched partition was rewritten
    assert(before.filter(_._1.startsWith(s"__bucket=$touched"))
      !== after.filter(_._1.startsWith(s"__bucket=$touched")))
    // and the merge semantics held
    val t = Load.readTable(spark, path)
    assert(t.count() === 300)
    assert(t.filter(col("order_id") === "o1").select("amount")
      .as[Double].head() === 9.0)
  }

  test("upsert swap: crash before rename-in loses nothing; replay converges") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val path = tmpDir("crash1") + "/t"
    val keys = Seq("order_id", "items")
    val v1 = (1 to 300).map(i => (s"o$i", s"i$i", 1.0))
      .toDF("order_id", "items", "amount")
    Load.upsert(spark, v1, path, keys)
    val v2 = Seq(("o1", "i1", 9.0)).toDF("order_id", "items", "amount")
    val b = v2.select(Load.bucketOf(keys)).as[Long].head()
    // simulate a crash between the swap's phase 1 (old gen moved
    // aside) and phase 2 (new gen renamed in): the bucket is ABSENT
    // from the table, its only copy lives in the aside dir
    Files.createDirectories(Paths.get(path + "__swap"))
    Files.move(Paths.get(s"$path/__bucket=$b"),
      Paths.get(s"${path}__swap/__bucket=$b"))
    // a checkpoint replay of the same batch must first restore the
    // old generation, then merge — no key may be lost
    Load.upsert(spark, v2, path, keys)
    val t = Load.readTable(spark, path)
    assert(t.count() === 300)
    assert(t.filter(col("order_id") === "o1").select("amount").as[Double].head() === 9.0)
    assert(!Files.exists(Paths.get(path + "__swap")))
    assert(!Files.exists(Paths.get(path + "__tmp")))
  }

  test("upsert swap: crash after rename-in keeps new gen; replay idempotent") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val path = tmpDir("crash2") + "/t"
    val keys = Seq("order_id", "items")
    val v1 = (1 to 300).map(i => (s"o$i", s"i$i", 1.0))
      .toDF("order_id", "items", "amount")
    Load.upsert(spark, v1, path, keys)
    val v2 = Seq(("o1", "i1", 9.0)).toDF("order_id", "items", "amount")
    val b = v2.select(Load.bucketOf(keys)).as[Long].head()
    // keep a copy of the OLD generation of the touched bucket
    val oldCopy = Paths.get(tmpDir("crash2-old"), s"__bucket=$b")
    Files.createDirectories(oldCopy.getParent)
    Files.walk(Paths.get(s"$path/__bucket=$b")).iterator().asScala.toSeq.foreach { p =>
      val rel = Paths.get(s"$path/__bucket=$b").relativize(p)
      Files.copy(p, oldCopy.resolve(rel.toString), StandardCopyOption.REPLACE_EXISTING)
    }
    Load.upsert(spark, v2, path, keys) // completes: dst = new gen
    // simulate a crash after phase 2 but before cleanup: the old
    // generation is still sitting aside next to the committed new one
    Files.createDirectories(Paths.get(path + "__swap"))
    Files.move(oldCopy, Paths.get(s"${path}__swap/__bucket=$b"))
    // replaying the same batch keeps the new generation (merge is
    // idempotent) and clears the aside copy
    Load.upsert(spark, v2, path, keys)
    val t = Load.readTable(spark, path)
    assert(t.count() === 300)
    assert(t.filter(col("order_id") === "o1").select("amount").as[Double].head() === 9.0)
    assert(!Files.exists(Paths.get(path + "__swap")))
  }

  test("whole-table swap: crash leaving table at __prev recovers on next op") {
    import java.nio.file.{Files, Paths}
    val path = tmpDir("crash3") + "/t"
    val keys = Seq("order_id", "items")
    val v1 = Seq(("o1", "a", 1.0), ("o2", "b", 2.0)).toDF("order_id", "items", "amount")
    Load.upsert(spark, v1, path, keys)
    // simulate a crash between swap's aside rename and the new-gen
    // rename: the only copy of the table is parked at __prev
    Files.move(Paths.get(path), Paths.get(path + "__prev"))
    // the next upsert recovers it and merges normally
    val v2 = Seq(("o1", "a", 9.0)).toDF("order_id", "items", "amount")
    Load.upsert(spark, v2, path, keys)
    val got = Load.readTable(spark, path)
      .select("order_id", "amount").orderBy("order_id")
      .as[(String, Double)].collect().toSeq
    assert(got === Seq(("o1", 9.0), ("o2", 2.0)))
    assert(!Files.exists(Paths.get(path + "__prev")))
  }

  test("S6/J1 star normalization: all-integer fact, FK integrity") {
    val clean = Seq(
      ("1", "Latte", 2.0, 10.0, 10.0, "t1", "Cash", "Dine-in"),
      ("2", "Croffle", 1.0, 5.0, 5.0, "t2", "Gcash", "Take-out"))
      .toDF("order_id", "items", "quantity", "total_order_amount",
        "received_amount", "payment_time", "payment_type", "order_type")
    val star = Load.normalizeStar(clean)
    assert(star.fact.count() === 2)
    assert(star.dimItem.count() === 2)
    // every fact FK resolves
    val joined = star.fact
      .join(star.dimItem, Seq("item_id"))
      .join(star.dimPayment, Seq("payment_type_id"))
      .join(star.dimOrderType, Seq("order_type_id"))
    assert(joined.count() === 2)
    // surrogates are stable across runs (hash, not sequence)
    val again = Load.normalizeStar(clean)
    assert(star.dimItem.orderBy("items").collect().toSeq
      === again.dimItem.orderBy("items").collect().toSeq)
  }

  test("S6/J1 inline star keys equal the three dim joins as a multiset, nulls dropped") {
    import spark.implicits._
    val clean = Seq(
      ("1", "Latte", 2.0, 10.0, 10.0, "t1", "Cash", "Dine-in"),
      ("1", "Latte", 2.0, 10.0, 10.0, "t1", "Cash", "Dine-in"),
      ("2", "Latte", 1.0, 5.0, 5.0, "t2", "Gcash", "Take-out"),
      ("3", "Croffle", 1.0, 5.0, 5.0, "t3", "Gcash", "Dine-in"),
      ("4", null, 1.0, 5.0, 5.0, "t4", "Cash", "Dine-in"),
      ("5", "Croffle", 1.0, 5.0, 5.0, "t5", null, "Dine-in"),
      ("6", "Latte", 1.0, 5.0, 5.0, "t6", "Cash", null))
      .toDF("order_id", "items", "quantity", "total_order_amount",
        "received_amount", "payment_time", "payment_type", "order_type")
    val star = Load.normalizeStar(clean)
    // the derivation the inline keys replace: inner joins to the dims
    val joined = clean
      .join(broadcast(star.dimItem), Seq("items"))
      .join(broadcast(star.dimPayment), Seq("payment_type"))
      .join(broadcast(star.dimOrderType), Seq("order_type"))
      .select(star.fact.columns.map(col).toIndexedSeq: _*)
    assert(star.fact.count() === 4)
    assert(star.fact.exceptAll(joined).count() === 0)
    assert(joined.exceptAll(star.fact).count() === 0)
  }

  test("S8 reprocess: quarantined rows promote after the dim learns the item") {
    import spark.implicits._
    val base = tmpDir("reproc")
    val factPath = base + "/fact"
    val qPath = base + "/quarantine"
    val raw = Seq(
      ("1", "Spanish Latte (Solo) (Hot) x1", "100.00", "100.00", "t", "100.00", "-", "Dine-in"),
      ("2", "Halo-Halo Special x1", "50.00", "50.00", "t", "50.00", "-", "Dine-in"))
      .toDF("Order ID", "Products", "Product amount", "Received amount",
        "Payment time", "Cash", "Gcash", "Type/Channel")
    val split = Transform.run(raw, Transform.dimDF(spark))
    Load.upsert(spark, split.clean, factPath, Seq("order_id", "items"))
    Load.appendQuarantine(split.quarantine, qPath)
    assert(spark.read.parquet(factPath).count() === 1)
    assert(spark.read.parquet(qPath).count() === 1)
    // dim unchanged → nothing promotes
    val (p0, r0) = Load.reprocessQuarantine(spark, qPath, factPath,
      Transform.dimDF(spark), Seq("order_id", "items"))
    assert(p0 === 0 && r0 === 1)
    // teach the dim the quarantined product → row promotes to fact
    val dim2 = Transform.dimDF(spark)
      .unionByName(Seq(("Halo-Halo Special", "Ice Cream", "Desserts"))
        .toDF("clean_item", "sub_category", "category"))
    val (p1, r1) = Load.reprocessQuarantine(spark, qPath, factPath, dim2,
      Seq("order_id", "items"))
    assert(p1 === 1 && r1 === 0)
    assert(spark.read.parquet(factPath).count() === 2)
    assert(spark.read.parquet(qPath).count() === 0)
  }

  test("shard writer: manifest commit marker, stats from disk, atomic rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = tmpDir("shards")
    val out = base + "/shards"
    val docs = Tables.documents(spark, sf)
    val packed = graft.llm.Packing.packShards(docs, "doc_id",
        size(split(col("text"), " ")), budget = 4096L)
      .join(docs.select("doc_id", "lang", "text"), Seq("doc_id"))
    graft.llm.BarrierCache.sweep(spark)

    Load.writeSharded(spark, packed, "shard", Some("tok"), out)
    val back = Load.readSharded(spark, out)
    assert(back.count() === packed.count())
    // manifest agrees with what a reader sees per shard (read via
    // FS: underscore-prefixed files are hidden from Spark's file
    // index by design, so the parquet reader skips it)
    val manifestLines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_MANIFEST.json")), "UTF-8").split("\n").toSeq
    val observed = back.groupBy("shard")
      .agg(count(lit(1)).as("n"), sum("tok").as("t"))
      .select(col("shard").cast("long"), col("n"), col("t"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val expected = observed.map { case (s, n, t) =>
      s"""{"shard":$s,"n_docs":$n,"n_tokens":$t}"""
    }
    assert(manifestLines === expected)

    // rewriting in place swaps atomically and stays readable
    Load.writeSharded(spark, packed.filter(col("shard") === 0), "shard", Some("tok"), out)
    assert(Load.readSharded(spark, out).select("shard").distinct().count() === 1)

    // a dataset without the commit marker is refused
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out, "_MANIFEST.json"), false)
    val err = intercept[IllegalArgumentException] { Load.readSharded(spark, out) }
    assert(err.getMessage.contains("_MANIFEST.json"))
  }

  test("shard writer: empty input commits an empty dataset; reader recovers __prev") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = tmpDir("shards-edge") + "/t"
    val none = Seq.empty[(Long, Long, String)].toDF("doc_id", "tok", "text")
      .withColumn("shard", lit(0L))
    Load.writeSharded(spark, none, "shard", Some("tok"), out)
    assert(Load.readSharded(spark, out).count() === 0)
    // crash-sim: table parked at __prev (swap died between renames)
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(out),
      new org.apache.hadoop.fs.Path(out + "__prev")))
    assert(Load.readSharded(spark, out).count() === 0) // recovered, not rejected
  }

  test("compact recurses into partition dirs in place; manifest datasets refuse") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = tmpDir("compact-guard")
    // partition-directory table (the quarantine/upsert/ingest layout):
    // each partition compacts independently, the dir tree survives
    val pdir = base + "/pdir"
    (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v").repartition(10)
      .write.parquet(s"$pdir/__batch=1")
    (201L to 400L).map(i => (i, s"v$i")).toDF("k", "v").repartition(10)
      .write.parquet(s"$pdir/__batch=2")
    def filesIn(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = spark.read.parquet(pdir).orderBy("k")
      .as[(Long, String, Int)].collect()
    Load.compact(spark, pdir)
    assert(filesIn(s"$pdir/__batch=1") === 1)
    assert(filesIn(s"$pdir/__batch=2") === 1)
    val after = spark.read.parquet(pdir).orderBy("k")
      .as[(Long, String, Int)].collect()
    assert(after === before, "partition-dir compaction changed the data")
    // manifest-committed shard dataset
    val sh = base + "/sh"
    val packed = graft.llm.Packing.packShards(Tables.documents(spark, sf),
      "doc_id", size(split(col("text"), " ")), budget = 4096L)
    graft.llm.BarrierCache.sweep(spark)
    Load.writeSharded(spark, packed, "shard", Some("tok"), sh)
    val e2 = intercept[IllegalArgumentException] { Load.compact(spark, sh) }
    assert(e2.getMessage.contains("manifest-committed"))
  }

  test("compaction shrinks the file count and preserves data exactly") {
    import org.apache.spark.sql.functions._
    val path = tmpDir("compact") + "/t"
    // simulate micro-batch accretion: 40 tiny files
    Tables.documents(spark, sf).repartition(40)
      .write.mode("overwrite").parquet(path)
    def files = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    def checksum() = spark.read.parquet(path)
      .agg(count(lit(1)), sum(xxhash64(col("doc_id"), col("text"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
    val before = checksum()
    assert(files === 40)
    Load.compact(spark, path, targetBytes = 512L * 1024)
    assert(files < 40, s"still $files files")
    val after = checksum()
    assert(after === before)
  }

  test("range-clustered write yields disjoint per-file key ranges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val path = tmpDir("clustered") + "/t"
    Load.writeClustered(spark, Tables.documents(spark, sf), "doc_id", 8, path)
    val ranges = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min("doc_id"), max("doc_id")).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file ranges: $hi >= $lo")
    }
    // and the data survives intact
    assert(spark.read.parquet(path).count() === Tables.documents(spark, sf).count())
  }

  /** The opener against `spark.read.parquet` on one layout: the same
    * schema (nullability and partition types included), rows as a
    * multiset and input files; no hidden file among them; no job to
    * open, where the reference open runs at least its schema job.
    */
  private def assertOpensLikeSpark(path: String, hidden: Seq[String]): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val names = Files.walk(Paths.get(path)).iterator().asScala
      .map(_.getFileName.toString).toSet
    hidden.foreach(h => assert(names.exists(_.endsWith(h)), s"no $h file under $path"))
    val (ref, refJobs) = jobsDuring(spark.read.parquet(path))
    val (got, jobs) = jobsDuring(Load.openTable(spark, path))
    assert(jobs === 0, s"opening $path ran $jobs jobs")
    assert(refJobs > 0)
    assert(got.schema === ref.schema)
    assert(got.inputFiles.toSet === ref.inputFiles.toSet)
    assert(got.inputFiles.nonEmpty)
    assert(!got.inputFiles.exists(f => hidden.exists(f.endsWith)))
    assert(got.count() === ref.count())
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
  }

  test("openTable equals spark.read.parquet on a 64-bucket upsert table, with no job") {
    val path = tmpDir("open-upsert") + "/t"
    val rows = (1 to 1000).map(i => (s"o$i", s"i${i % 7}", i * 0.5, if (i % 3 == 0) null else s"n$i"))
    Load.upsert(spark, rows.toDF("order_id", "items", "amount", "note"), path,
      Seq("order_id", "items"))
    val buckets = new java.io.File(path).listFiles().count(_.getName.startsWith("__bucket="))
    assert(buckets === Load.UpsertBuckets)
    assertOpensLikeSpark(path, Seq("_SUCCESS", ".crc"))
    // the partition column comes out as Spark infers it
    assert(Load.openTable(spark, path).schema("__bucket").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  test("openTable equals spark.read.parquet on a flat writeAtomic table, with no job") {
    val path = tmpDir("open-flat") + "/t"
    Load.writeAtomic(spark, (1 to 50).map(i => (i.toLong, s"v$i", i % 2 == 0))
      .toDF("k", "v", "even").repartition(3), path)
    assertOpensLikeSpark(path, Seq("_SUCCESS", ".crc"))
  }

  test("openTable equals spark.read.parquet on a 40-batch quarantine, with no job") {
    val path = tmpDir("open-quarantine") + "/q"
    (0 until 40).foreach { b =>
      Load.appendQuarantineIdempotent(Seq((s"o$b", b * 1.0)).toDF("Order ID", "Amount"),
        path, b.toLong)
    }
    assertOpensLikeSpark(path, Seq("_SUCCESS", ".crc"))
    assert(Load.openTable(spark, path).schema("__batch").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  test("openTable equals spark.read.parquet on a writeSharded dataset, with no job") {
    val path = tmpDir("open-shards") + "/s"
    val docs = (1 to 200).map(i => (i.toLong, i % 5, i.toLong * 3)).toDF("doc_id", "shard", "tok")
    Load.writeSharded(spark, docs, "shard", Some("tok"), path)
    assertOpensLikeSpark(path, Seq("_SUCCESS", ".crc", "_MANIFEST.json"))
  }

  // the snapshot tier's own parquet, opened by the same opener: a
  // deletion vector, a skipping index, a partitioned and a bucketed
  // data dir
  private def snapshotTable(name: String, partitionBy: Seq[String] = Nil,
                            bucketBy: Option[Snapshots.Bucketing] = None): String = {
    val root = tmpDir(name) + "/t"
    Snapshots.commitWithStats(spark,
      (1 to 200).map(i => (i.toLong, s"p${i % 3}", i * 0.25)).toDF("id", "p", "x")
        .repartition(3), root, Seq("id"), partitionBy, bucketBy)
    root
  }

  test("openTable equals spark.read.parquet on a snapshot deletion-vector file, with no job") {
    val root = snapshotTable("open-dv")
    Snapshots.deleteWhere(spark, root, col("id") % 7 === 0)
    val dv = Snapshots.versionMeta(spark, root, 2L).dv
    assert(dv.isDefined, "the delete wrote no deletion vector")
    assertOpensLikeSpark(s"$root/${dv.get}", Seq(".crc"))
  }

  test("openTable equals spark.read.parquet on a StatsIndex.buildAndSave dir, with no job") {
    val root = snapshotTable("open-stats")
    val stats = graft.etl.StatsIndex.buildAndSave(spark,
      s"$root/${Snapshots.versionMeta(spark, root, 1L).dataDir.get}", Seq("id"), s"$root-stats")
    assertOpensLikeSpark(stats, Seq(".crc"))
  }

  test("openTable equals spark.read.parquet on a partitioned snapshot data dir, with no job") {
    val root = snapshotTable("open-parts", partitionBy = Seq("p"))
    val dir = s"$root/${Snapshots.versionMeta(spark, root, 1L).dataDir.get}"
    assertOpensLikeSpark(dir, Seq(".crc"))
    assert(Load.openTable(spark, dir).schema.fieldNames.contains(Snapshots.partKey("p")))
  }

  test("openTable equals spark.read.parquet on a bucketed snapshot data dir, with no job") {
    val root = snapshotTable("open-buckets", bucketBy = Some(Snapshots.Bucketing(4, Seq("id"))))
    assertOpensLikeSpark(s"$root/${Snapshots.versionMeta(spark, root, 1L).dataDir.get}",
      Seq(".crc"))
  }

  test("openTable falls back to spark.read.parquet: empty directory, footer without Spark schema") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a directory with no data file: both refuse the same way
    val empty = tmpDir("open-empty") + "/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(empty))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    val refErr = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(empty))
    val err = intercept[org.apache.spark.sql.AnalysisException](Load.openTable(spark, empty))
    assert(err.getCondition === refErr.getCondition)
    // a file written without Spark: its schema is Spark's own inference
    val foreign = tmpDir("open-foreign") + "/t"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); }")
    val writer = ExampleParquetWriter.builder(new Path(foreign + "/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 5).foreach(i => writer.write(groups.newGroup().append("id", i.toLong)
      .append("name", s"n$i")))
    finally writer.close()
    val got = Load.openTable(spark, foreign)
    val ref = spark.read.parquet(foreign)
    assert(got.schema === ref.schema)
    assert(got.orderBy("id").collect().toSeq === ref.orderBy("id").collect().toSeq)
  }

  /** Shuffle exchanges in the executed plan of the write under `path`
    * that `body` runs, captured by a QueryExecutionListener.
    */
  private def writeExchanges(path: String)(body: => Unit): Int = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    def writesUnder(p: SparkPlan) = flattenPlan(p).exists {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString.contains(path)
        case _ => false
      }
      case _ => false
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      def writes = plans.toArray(Array.empty[SparkPlan]).filter(writesUnder).toSeq
      while (writes.isEmpty && System.nanoTime < deadline) Thread.sleep(10)
      assert(writes.size === 1, s"expected one write under $path")
      flattenPlan(writes.head).count(_.isInstanceOf[ShuffleExchangeLike])
    } finally spark.listenerManager.unregister(listener)
  }

  test("upsert of one row into a populated 64-bucket table runs one exchange") {
    val path = tmpDir("upsert-plan") + "/t"
    val keys = Seq("order_id", "items")
    Load.upsert(spark, (1 to 1000).map(i => (s"o$i", s"i$i", 1.0))
      .toDF("order_id", "items", "amount"), path, keys)
    val one = Seq(("o1", "i1", 9.0)).toDF("order_id", "items", "amount")
    assert(writeExchanges(path)(Load.upsert(spark, one, path, keys)) === 1)
    val t = Load.readTable(spark, path)
    assert(t.count() === 1000)
    assert(t.filter(col("order_id") === "o1").select("amount").as[Double].head() === 9.0)
  }

  test("a first load writes one file per bucket directory, in one exchange") {
    val path = tmpDir("first-load") + "/t"
    val rows = (1 to 1000).map(i => (s"o$i", s"i$i", 1.0)).toDF("order_id", "items", "amount")
    // keep all 4 shuffle partitions: coalesced into one task, this
    // little data would land one file per bucket whatever the plan
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try assert(writeExchanges(path)(Load.upsert(spark, rows, path, Seq("order_id", "items"))) === 1)
    finally spark.conf.set(coalesce, was)
    val dirs = new java.io.File(path).listFiles().filter(_.getName.startsWith("__bucket="))
    assert(dirs.length === Load.UpsertBuckets)
    dirs.foreach(d => assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1,
      s"${d.getName} holds more than one file"))
    assert(Load.readTable(spark, path).count() === 1000)
  }

  test("an upsert carrying a column the table lacks refuses before writing; a missing one merges as NULL") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val path = tmpDir("upsert-extra") + "/t"
    val keys = Seq("order_id", "items")
    Load.upsert(spark, (1 to 1000).map(i => (s"o$i", s"i$i", 1.0))
      .toDF("order_id", "items", "amount"), path, keys)
    def files(): Map[String, Long] =
      Files.walk(Paths.get(path)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val before = files()
    val e = intercept[IllegalArgumentException] {
      Load.upsert(spark, Seq(("o1", "i1", 9.0, "late")).toDF("order_id", "items", "amount", "note"),
        path, keys)
    }
    assert(e.getMessage.contains("note"), e.getMessage)
    assert(files() === before, "the refused upsert changed the table")
    assert(!Files.exists(Paths.get(path + "__tmp")))
    assert(Load.readTable(spark, path).columns.toSet === Set("order_id", "items", "amount"))
    // a batch leaving a column out stays legal: it merges as NULL
    Load.upsert(spark, Seq(("o2", "i2")).toDF("order_id", "items"), path, keys)
    val t = Load.readTable(spark, path)
    assert(t.count() === 1000)
    assert(t.filter(col("order_id") === "o2").select("amount").head().isNullAt(0))
  }
}
