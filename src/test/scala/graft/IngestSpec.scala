package graft

import graft.etl.Transform
import graft.sources.FileSources
import graft.streaming.Ingest
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** S1/S3/S7/A7: streaming ingest exactly-once, archive behavior,
  * permissive corruption capture, watermarked windows, streaming
  * dedup.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(dir: String, name: String, rows: Seq[String]): Unit = {
    val header = "Order ID,Products,Product amount,Received amount,Payment time,Cash,Gcash,Type/Channel"
    Files.write(Paths.get(dir, name), (header +: rows).mkString("\n").getBytes("UTF-8"))
  }

  test("S1/S7: AvailableNow ingest processes each file exactly once and archives it") {
    val base = tmpDir("ingest")
    val staging = base + "/staging"; val archive = base + "/archive"
    val checkpoint = base + "/chk"; val fact = base + "/fact"; val q = base + "/quar"
    Files.createDirectories(Paths.get(staging))

    writeCsv(staging, "day1.csv", Seq(
      """1,Spanish Latte (Solo) (Hot) x2,100.00,100.00,t1,100.00,-,Dine-in""",
      """2,Biscoff Croffle x1,50.00,50.00,t2,0.00,-,Take-out"""))
    Ingest.ingestAvailableNow(spark, staging, archive, checkpoint, fact, q,
      Transform.dimDF(spark))
    assert(spark.read.parquet(fact).count() === 2)

    // second pass with a new file: old file not reprocessed, new one is
    writeCsv(staging, "day2.csv", Seq(
      """3,Americano (Duo) (Cold) x1,70.00,70.00,t3,-,70.00,Delivery"""))
    Ingest.ingestAvailableNow(spark, staging, archive, checkpoint, fact, q,
      Transform.dimDF(spark))
    val got = spark.read.parquet(fact).orderBy("order_id")
      .select("order_id", "items").as[(String, String)].collect().toSeq
    assert(got === Seq(("1", "Spanish Latte"), ("2", "Croffle - Biscoff"),
      ("3", "Americano")))

    // archived: the file-source cleaner runs asynchronously after
    // each commit, so day1 must be archived by now (it was consumed a
    // full query ago); day2's archive may still be in flight.
    var archived = 0
    var tries = 0
    while (archived < 1 && tries < 20) {
      archived = Files.walk(Paths.get(archive)).toArray.map(_.toString)
        .count(_.endsWith(".csv"))
      if (archived < 1) { Thread.sleep(500); tries += 1 }
    }
    assert(archived >= 1)
    assert(!Files.exists(Paths.get(staging, "day1.csv")))
  }

  /** A one-sheet "Paid order list" workbook of the raw-report columns,
    * every cell an inline string (values are not XML-escaped).
    */
  private def writeXlsx(dir: String, name: String, rows: Seq[Seq[String]]): Unit = {
    val header = Seq("Order ID", "Products", "Product amount", "Received amount",
      "Payment time", "Cash", "Gcash", "Type/Channel")
    def cell(v: String) =
      s"""<c t="inlineStr"><is><t>$v</t></is></c>"""
    val sheet = (header +: rows).map(r => r.map(cell).mkString("<row>", "", "</row>"))
      .mkString("""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""",
        "", "</sheetData></worksheet>")
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(Paths.get(dir, name)))
    Seq(
      "xl/workbook.xml" -> """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Paid order list" sheetId="1" r:id="rId1"/></sheets></workbook>""",
      "xl/_rels/workbook.xml.rels" -> """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""",
      "xl/worksheets/sheet1.xml" -> sheet).foreach { case (part, xml) =>
      out.putNextEntry(new java.util.zip.ZipEntry(part))
      out.write(xml.getBytes("UTF-8"))
      out.closeEntry()
    }
    out.close()
  }

  test("CSV and xlsx AvailableNow ingests route both sinks and leave no cached plan") {
    // start from an empty cache manager, as Bench's reset does
    graft.queries.PosQueries.clearCache()
    graft.llm.BarrierCache.sweep(spark)
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    assert(cm.isEmpty)
    val rows = Seq(
      Seq("1", "Spanish Latte (Solo) (Hot) x2, Biscoff Croffle x1", "150.00", "150.00", "t1", "150.00", "-", "Dine-in"),
      Seq("2", "Halo-Halo Special x1", "50.00", "50.00", "t2", "-", "50.00", "Take-out"),
      Seq("3", "Americano (Duo) (Cold) x1", "-70.00", "70.00", "t3", "70.00", "-", "Delivery"))
    val want = Transform.run(
      rows.map { case Seq(a, b, c, d, e, f, g, h) => (a, b, c, d, e, f, g, h) }
        .toDF(Transform.rawContract: _*), Transform.dimDF(spark))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select(want.clean.columns.map(col).toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
    def sortedQ(df: org.apache.spark.sql.DataFrame) =
      df.select(want.quarantine.columns.map(col).toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
    Seq("csv", "xlsx").foreach { kind =>
      val base = tmpDir(s"ingest-$kind")
      val staging = base + "/staging"; val fact = base + "/fact"; val q = base + "/quar"
      Files.createDirectories(Paths.get(staging))
      if (kind == "csv")
        writeCsv(staging, "day1.csv", rows.map(_.map(v =>
          if (v.contains(",")) "\"" + v + "\"" else v).mkString(",")))
      else writeXlsx(staging, "day1.xlsx", rows)
      if (kind == "csv")
        Ingest.ingestAvailableNow(spark, staging, base + "/archive", base + "/chk",
          fact, q, Transform.dimDF(spark))
      else
        Ingest.ingestXlsxAvailableNow(spark, staging, base + "/archive", base + "/chk",
          new graft.etl.ParquetUpsertSink(spark, fact), q, Transform.dimDF(spark))
      assert(cm.isEmpty, s"$kind ingest left a cached plan")
      assert(sorted(graft.etl.Load.readTable(spark, fact)) === sorted(want.clean), kind)
      assert(sortedQ(spark.read.parquet(q)) === sortedQ(want.quarantine), kind)
    }
    assert(want.clean.count() === 2 && want.quarantine.count() === 2)
  }

  test("S3: permissive CSV capture routes malformed rows, keeps good ones") {
    val dir = tmpDir("csv")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("a INT, b DOUBLE, c STRING")
    Files.write(Paths.get(dir, "f.csv"),
      "a,b,c\n1,2.5,ok\nnot_an_int,xxx,bad\n3,4.5,fine".getBytes("UTF-8"))
    val df = FileSources.csvPermissive(spark, dir + "/f.csv", schema)
    val (parsed, corrupt) = FileSources.splitCorrupt(df)
    assert(parsed.count() === 2)
    assert(corrupt.as[String].collect().toSeq === Seq("not_an_int,xxx,bad"))
  }

  test("S3: permissive JSON capture routes malformed rows, keeps good ones") {
    val dir = tmpDir("json")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("a INT, b STRING")
    Files.write(Paths.get(dir, "f.json"),
      """{"a": 1, "b": "ok"}
        |{"a": "not_an_int", "b": 42}
        |{"a": 3, "b": "fine"}""".stripMargin.getBytes("UTF-8"))
    val df = FileSources.jsonPermissive(spark, dir + "/f.json", schema)
    val (parsed, corrupt) = FileSources.splitCorrupt(df)
    assert(parsed.count() === 2)
    assert(corrupt.as[String].collect().toSeq
      === Seq("""{"a": "not_an_int", "b": 42}"""))
  }

  test("A7: watermarked tumbling-window aggregation over a stream") {
    val dir = tmpDir("stream")
    Tables.events(spark, sf).limit(200)
      .write.mode("overwrite").parquet(dir + "/in")
    val schema = spark.read.parquet(dir + "/in").schema
    val stream = spark.readStream.schema(schema).parquet(dir + "/in")
    val agg = Ingest.windowedCounts(stream, "10 minutes", "1 hour")
    val query = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .option("checkpointLocation", dir + "/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    // append mode emits only watermark-closed windows; all but the
    // final window close ⇒ totals match a batch computation minus
    // the open tail
    val emitted = spark.table("win_out").agg(sum("n")).as[Long].head()
    val batchTotal = 200L
    assert(emitted > 0 && emitted <= batchTotal)
  }

  test("A5 streaming: session_window sessions close at the watermark") {
    val dir = tmpDir("session")
    Tables.events(spark, sf).limit(300)
      .write.mode("overwrite").parquet(dir + "/in")
    val schema = spark.read.parquet(dir + "/in").schema
    val stream = spark.readStream.schema(schema).parquet(dir + "/in")
    val query = Ingest.sessionCounts(stream, gap = "30 minutes", watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("session_out")
      .option("checkpointLocation", dir + "/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    val out = spark.table("session_out")
    val emitted = out.agg(sum("n")).as[Long].head()
    // append mode emits only watermark-closed sessions: something
    // closes, nothing exceeds the input count
    assert(emitted > 0 && emitted <= 300)
    // a session's span is at least one gap long end-to-start
    assert(out.filter(col("session_end") <= col("session_start")).count() === 0)
  }

  test("A7: stream-stream interval join equals the batch join") {
    val dir = tmpDir("ssjoin")
    val ev = Tables.events(spark, sf).limit(400)
    ev.write.mode("overwrite").parquet(dir + "/in")
    val schema = spark.read.parquet(dir + "/in").schema
    def streamSide(t: String) = spark.readStream.schema(schema)
      .parquet(dir + "/in").filter(col("event_type") === t)
    val query = Ingest.clickPurchaseJoin(
        streamSide("click"), streamSide("purchase"),
        watermark = "10 minutes", within = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out")
      .option("checkpointLocation", dir + "/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    val batchEv = spark.read.parquet(dir + "/in")
    def batchSide(t: String) = batchEv.filter(col("event_type") === t)
    val expected = Ingest.clickPurchaseJoin(
        batchSide("click"), batchSide("purchase"))
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = spark.table("ssjoin_out")
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // AvailableNow drains the source fully, so every pair emits —
    // inner stream-stream join output equals the batch join exactly
    assert(got === expected)
    assert(got.nonEmpty, "fixture slice should contain joinable pairs")
  }

  test("C2 streaming: dropDuplicatesWithinWatermark dedups keys") {
    val dir = tmpDir("dedup")
    val ev = Tables.events(spark, sf).limit(100)
      .withColumn("user_mod", col("user_id") % 5)
    ev.write.mode("overwrite").parquet(dir + "/in")
    val schema = spark.read.parquet(dir + "/in").schema
    val stream = spark.readStream.schema(schema).parquet(dir + "/in")
    val deduped = Ingest.dedupWithinWatermark(stream, Seq("user_mod"), "1 hour")
    val query = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation", dir + "/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    val n = spark.table("dedup_out").count()
    // at most one row per distinct user_mod per watermark window;
    // far fewer than the 100 input rows, at least the 5 distinct keys
    assert(n >= 5 && n < 100)
  }

  test("A7/A9: streaming curation pass — quality + dedup + PII across runs") {
    val base = tmpDir("curate")
    val staging = base + "/staging"; val chk = base + "/chk"; val out = base + "/out"
    Files.createDirectories(Paths.get(staging))
    def doc(id: Long, text: String, lang: String = "en") =
      s"""{"doc_id":$id,"text":"$text","lang":"$lang"}"""
    val good = "the quick brown fox jumps over the lazy dog near the river bank today"

    // pass 1: one good doc, one low-quality (degenerate repetition), one PII doc
    Files.write(Paths.get(staging, "b1.json"), Seq(
      doc(1, good),
      doc(2, "spam spam spam spam spam spam spam"), // 7 tokens: misses the length band, ttr ~0.14 -> score < 0.5
      doc(3, good + " contact admin@site.org now please and thank you kindly")
    ).mkString("\n").getBytes("UTF-8"))
    Ingest.curateDocsAvailableNow(spark, staging, chk, out)
    val p1 = spark.read.parquet(out)
    assert(p1.count() === 2) // low-quality dropped
    assert(p1.filter(col("text").contains("admin@site.org")).isEmpty)
    assert(p1.filter(col("text").contains("<EMAIL>")).count() === 1)

    // pass 2: an exact duplicate of doc 1 (new id) + a fresh doc —
    // dedup state persists in the checkpoint across passes
    Files.write(Paths.get(staging, "b2.json"), Seq(
      doc(10, good),
      doc(11, "a genuinely new document with plenty of varied words in it today")
    ).mkString("\n").getBytes("UTF-8"))
    Ingest.curateDocsAvailableNow(spark, staging, chk, out)
    val p2 = spark.read.parquet(out)
    assert(p2.count() === 3) // duplicate content suppressed across runs
    assert(p2.filter(col("doc_id") === 10L).isEmpty)
    assert(p2.filter(col("doc_id") === 11L).count() === 1)
  }

  test("A7: streaming drift monitor accumulates to the batch TV across runs") {
    import spark.implicits._
    val base = tmpDir("drift")
    val staging = base + "/staging"; val chk = base + "/chk"; val out = base + "/out"
    Files.createDirectories(Paths.get(staging))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text","lang":"en"}"""
    val ref = Seq((1L, "the quick brown fox and the lazy dog"),
      (2L, "a river runs through the quiet valley")).toDF("doc_id", "text")

    val f1 = "the quick brown fox naps all day"
    val f2 = "an entirely different stream of words arrives here"
    Files.write(Paths.get(staging, "d1.json"),
      doc(1, f1).getBytes("UTF-8"))
    Ingest.driftMonitorAvailableNow(spark, staging, chk, ref, "text", out)
    Files.write(Paths.get(staging, "d2.json"),
      doc(2, f2).getBytes("UTF-8"))
    Ingest.driftMonitorAvailableNow(spark, staging, chk, ref, "text", out)

    val rows = spark.read.parquet(out)
    assert(rows.count() >= 2, "one appended summary row per non-empty batch")
    // the checkpointed running counts make the LAST row equal the
    // batch-mode drift over everything streamed so far
    val last = rows.orderBy(col("batch_id").desc).limit(1)
      .select("n_ref", "n_cur", "tv_microsum", "tv_dist").collect().head
    val streamed = Seq((1L, f1), (2L, f2)).toDF("doc_id", "text")
    val batch = graft.llm.Drift.summary(ref, streamed, "text")
      .select("n_ref", "n_cur", "tv_microsum", "tv_dist").collect().head
    assert(last === batch)
    // and the monitor is a curve: the first batch's TV differs from
    // the accumulated one (the second file shifted the distribution)
    val tvs = rows.select("tv_dist").as[Double].collect().toSet
    assert(tvs.size >= 2)
  }

  test("cdcResolvedAvailableNow: streamed per-key state across restarts == one-shot Cdc.state") {
    import java.nio.file.{Files, Paths}
    val base = tmpDir("graft_cdc_stream")
    val staging = s"$base/staging"; val chk = s"$base/chk"; val out = s"$base/out"
    Files.createDirectories(Paths.get(staging))
    def line(k: Long, ver: Long, op: String, payload: String) =
      s"""{"k":$k,"ver":$ver,"op":"$op","payload":"$payload"}""" + "\n"
    // file 1: inserts; file 2 (after a RESTART): an update, a
    // tombstone, and a LATE change versioned before the tombstone
    Files.write(Paths.get(staging, "b1.json"),
      (line(1, 10, "U", "a") + line(2, 10, "U", "b")).getBytes("UTF-8"))
    Ingest.cdcResolvedAvailableNow(spark, staging, chk, out)
    Files.write(Paths.get(staging, "b2.json"),
      (line(1, 20, "U", "a2") + line(2, 30, "D", "gone") +
        line(2, 20, "U", "late")).getBytes("UTF-8"))
    Ingest.cdcResolvedAvailableNow(spark, staging, chk, out)

    val rows = spark.read.parquet(out)
    val finalState = rows.groupBy("k")
      .agg(expr("max_by(struct(ver, op, payload), batch_id)").as("st"))
      .select(col("k"), col("st.ver").as("ver"), col("st.op").as("op"),
        col("st.payload").as("payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    // one-shot batch replay over the same log
    val log = Seq((1L, 10L, "U", "a"), (2L, 10L, "U", "b"), (1L, 20L, "U", "a2"),
      (2L, 30L, "D", "gone"), (2L, 20L, "U", "late"))
      .toDF("k", "ver", "op", "payload")
    val batch = graft.etl.Cdc.state(log, Seq("k"), Seq("ver"))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("ver"),
        r.getAs[String]("op"), r.getAs[String]("payload")))
      .sortBy(_._1)
    assert(finalState === batch)
    // the tombstone survived the late lower-versioned change
    assert(finalState.find(_._1 == 2L).get._3 === "D")
  }

  /** Run `harness` (two staged slices, one file per micro-batch), drop
    * batch 1's commit entry and rerun it: batch 1 replays, commits
    * again, and rewrites only its own `batch_id=1` partition, so the
    * output is the same multiset of rows.
    */
  private def assertReplayRewritesOwnPartition(base: String)(harness: () => Unit): Unit = {
    def rows() = spark.read.parquet(s"$base/out").collect().toSeq
      .map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    harness()
    val before = rows()
    assert(spark.read.parquet(s"$base/out").select("batch_id").distinct()
      .as[Long].collect().sorted === Array(0L, 1L))
    val commits = Paths.get(base, "chk", "commits")
    Files.delete(commits.resolve("1"))
    Files.deleteIfExists(commits.resolve(".1.crc"))
    harness()
    assert(Files.exists(commits.resolve("1")), "the replayed batch must commit again")
    assert(rows() === before)
  }

  test("spikeAlertsAvailableNow: a replayed micro-batch rewrites only its own partition") {
    val base = tmpDir("graft_spike_replay")
    // key 1's spike (5000) lands in batch 1 against batch 0's baseline
    Ingest.stageOrderedJson(spark, Seq(
      Seq((1L, 1L, 1000L), (1L, 2L, 1100L), (1L, 3L, 900L), (2L, 1L, 500L)),
      Seq((1L, 4L, 5000L), (1L, 5L, 1000L), (2L, 2L, 600L))
    ).map(_.toDF("key", "seq", "cents")), s"$base/staging")
    assertReplayRewritesOwnPartition(base)(() =>
      Ingest.spikeAlertsAvailableNow(spark, s"$base/staging", s"$base/chk",
        s"$base/out", maxFilesPerTrigger = Some(1)))
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() === 7L)
    assert(out.filter(col("is_spike")).select("key", "seq").as[(Long, Long)]
      .collect() === Array((1L, 4L)))
  }

  test("docFeaturesAvailableNow: a replayed micro-batch rewrites only its own partition") {
    val base = tmpDir("graft_docfeat_replay")
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    Ingest.stageOrderedJson(spark,
      Seq(docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0)),
      s"$base/staging")
    assertReplayRewritesOwnPartition(base)(() =>
      Ingest.docFeaturesAvailableNow(spark, s"$base/staging", s"$base/chk",
        s"$base/out", maxFilesPerTrigger = Some(1)))
    assert(spark.read.parquet(s"$base/out").select("doc_id").distinct().count() ===
      docs.count())
  }

  test("snapshotCdcApplyAvailableNow: keyed change feed maintains a derived table, resume + no double-apply") {
    import graft.etl.Snapshots
    val base = tmpDir("graft_cdc_apply")
    val src = s"$base/src"; val dst = s"$base/dst"; val chk = s"$base/chk"
    Snapshots.commitWithStats(spark,
      (1L to 10L).map(i => (i, i * 1.0, "base")).toDF("id", "x", "s")
        .coalesce(1), src, Seq("id"))
    Snapshots.append(spark,
      (11L to 15L).map(i => (i, i * 1.0, "b2")).toDF("id", "x", "s"), src)
    // first run: bootstrap (v1) + incremental apply (v2)
    Ingest.snapshotCdcApplyAvailableNow(spark, src, chk, dst, "id",
      Seq("id"), maxFilesPerTrigger = Some(1))
    assert(Snapshots.versions(spark, dst) === Seq(1L, 2L))
    assert(Snapshots.lastTag(spark, dst) === Some(2L))
    def equiv(): Boolean = {
      val s0 = Snapshots.read(spark, src); val d0 = Snapshots.read(spark, dst)
      s0.exceptAll(d0).isEmpty && d0.exceptAll(s0).isEmpty
    }
    assert(equiv(), "the bootstrap + first apply must mirror the source")
    // mid-range mutation: an upsert (update id=3, insert id=99) and a
    // merge-on-read delete — the full change vocabulary
    Snapshots.merge(spark,
      Seq((3L, 333.0, "upd"), (99L, 9.0, "new")).toDF("id", "x", "s"),
      src, "id", Seq("id"))
    Snapshots.deleteWhere(spark, src, col("id") % 5 === 0)
    // checkpoint RESUME: only v3/v4 flow, in one micro-batch, so one
    // dst commit tagged with the span's last source version
    Ingest.snapshotCdcApplyAvailableNow(spark, src, chk, dst, "id", Seq("id"))
    assert(Snapshots.versions(spark, dst) === (1L to 3L))
    assert(Snapshots.lastTag(spark, dst) === Some(4L))
    assert(equiv(), "updates, inserts and deletes must all propagate")
    assert(Snapshots.read(spark, dst).filter(col("id") === 3L)
      .head().getDouble(1) === 333.0)
    assert(Snapshots.read(spark, dst).filter(col("id") % 5 === 0).count() === 0L)
    // fresh-checkpoint rerun: every version re-delivers, every apply
    // SKIPS on its tag — zero new dst versions (no double-apply)
    Ingest.snapshotCdcApplyAvailableNow(spark, src, s"$base/chk2", dst,
      "id", Seq("id"))
    assert(Snapshots.versions(spark, dst) === (1L to 3L),
      "a replayed feed must not double-apply")
    assert(equiv())
  }

  /** `dst` holds the rows of `src` as a multiset. */
  private def mirrors(src: String, dst: String): Boolean = {
    import graft.etl.Snapshots
    val s0 = Snapshots.read(spark, src); val d0 = Snapshots.read(spark, dst)
    s0.exceptAll(d0).isEmpty && d0.exceptAll(s0).isEmpty
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("snapshotCdcApplyAvailableNow: one commit per micro-batch equals one commit per version") {
    import graft.etl.Snapshots
    val base = tmpDir("graft_cdc_span")
    val src = s"$base/src"
    val rng = new scala.util.Random(20261019L)
    var nextId = 41L
    def fresh(n: Int): Seq[Long] = { val ids = nextId until nextId + n; nextId += n; ids }
    def ids(): Seq[Long] = Snapshots.read(spark, src).select("id").as[Long].collect().toSeq
    def pick(n: Int): Seq[Long] = rng.shuffle(ids()).take(n)
    def rows(ks: Seq[Long], tagS: String) =
      ks.map(k => (k, k * 1.5 + rng.nextInt(100), tagS)).toDF("id", "x", "s")
    val statements: Map[String, () => Unit] = Map(
      "merge" -> (() => Snapshots.merge(spark,
        rows(pick(4), "upd").unionByName(rows(fresh(3), "ins")), src, "id", Seq("id"))),
      "delete" -> (() => {
        val gone = pick(3)
        Snapshots.deleteWhere(spark, src, col("id").isin(gone: _*))
      }),
      "append" -> (() => Snapshots.append(spark, rows(fresh(5), "app"), src, Seq("id"))),
      "optimize" -> (() => Snapshots.optimize(spark, src, statsCols = Seq("id"))),
      "rollback" -> (() => Snapshots.rollback(spark, src,
        math.max(1L, Snapshots.latestVersion(spark, src).get - 1 - rng.nextInt(2)))))
    Snapshots.commitWithStats(spark, (1L to 40L).map(i => (i, i * 1.0, "base"))
      .toDF("id", "x", "s").repartition(4), src, Seq("id"))
    // every kind twice, in a seeded order, cut into runs of 0-3
    // statements (a run with nothing pending must add no commit)
    val order = rng.shuffle(statements.keys.toSeq.sorted.flatMap(k => Seq(k, k)))
    val runs = Iterator.unfold(order) { rest =>
      if (rest.isEmpty) None
      else { val n = rng.nextInt(4); Some((rest.take(n), rest.drop(n))) }
    }.toSeq
    assert(runs.exists(_.isEmpty) && runs.exists(_.size > 1))
    val consumers = Seq("a" -> Some(1), "b" -> None)
    def apply(chk: String): Unit = consumers.foreach { case (c, maxFiles) =>
      Ingest.snapshotCdcApplyAvailableNow(spark, src, s"$base/$chk-$c", s"$base/$c",
        "id", Seq("id"), maxFilesPerTrigger = maxFiles)
    }
    def commits(c: String): Int = Snapshots.versions(spark, s"$base/$c").size
    // the first run bootstraps both from a two-version span
    statements("append")()
    apply("chk")
    assert(commits("a") === 2 && commits("b") === 1)
    runs.foreach { run =>
      run.foreach(statements(_)())
      val before = commits("b")
      apply("chk")
      val latest = Snapshots.latestVersion(spark, src)
      consumers.foreach { case (c, _) =>
        assert(mirrors(src, s"$base/$c"), s"$c after $run")
        assert(Snapshots.lastTag(spark, s"$base/$c") === latest, s"$c after $run")
      }
      assert(commits("b") === before + (if (run.isEmpty) 0 else 1), s"b after $run")
    }
    val settled = consumers.map { case (c, _) => commits(c) }
    apply("fresh")
    assert(consumers.map { case (c, _) => commits(c) } === settled)
    consumers.foreach { case (c, _) => assert(mirrors(src, s"$base/$c")) }
  }

  test("snapshotCdcApplyAvailableNow: a multi-version span refuses a vacuumed predecessor, untouched") {
    import graft.etl.Snapshots
    val base = tmpDir("graft_cdc_span_gap")
    val src = s"$base/src"; val dst = s"$base/dst"
    Snapshots.commitWithStats(spark, (1L to 10L).map(i => (i, s"r$i")).toDF("id", "s"),
      src, Seq("id"))                                                  // v1
    Ingest.snapshotCdcApplyAvailableNow(spark, src, s"$base/chk", dst, "id", Seq("id"))
    (2 to 5).foreach(v => Snapshots.append(spark,
      Seq((100L + v, s"r$v")).toDF("id", "s"), src, Seq("id")))        // v2-v5
    // v3 and v4 leave the log: the pending span is [2, 5], whose v5
    // cannot be derived from v4
    Snapshots.vacuum(spark, src, keepLast = 1, protectedVersions = Set(1L, 2L))
    assert(Snapshots.versions(spark, src) === Seq(1L, 2L, 5L))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      Ingest.snapshotCdcApplyAvailableNow(spark, src, s"$base/chk", dst, "id", Seq("id")))
    assert(messages(ex).exists(_.contains("version 4 is gone from the log")))
    assert(Snapshots.versions(spark, dst) === Seq(1L))
    assert(Snapshots.lastTag(spark, dst) === Some(1L))
    assert(Snapshots.read(spark, dst).count() === 10L)
  }

  test("snapshotCdcApplyAvailableNow: a span holding a DROP TABLE tombstone refuses") {
    import graft.etl.Snapshots
    val base = tmpDir("graft_cdc_span_drop")
    val src = s"$base/src"; val dst = s"$base/dst"
    Snapshots.commitWithStats(spark, (1L to 10L).map(i => (i, s"r$i")).toDF("id", "s"),
      src, Seq("id"))                                                  // v1
    Ingest.snapshotCdcApplyAvailableNow(spark, src, s"$base/chk", dst, "id", Seq("id"))
    Snapshots.append(spark, Seq((11L, "r11")).toDF("id", "s"), src, Seq("id")) // v2
    Snapshots.dropTable(spark, src)                                    // v3
    Snapshots.rollback(spark, src, 2L)                                 // v4: RESTORE
    // the net diff v1 -> v4 is live at both ends; the tombstone
    // inside the span still refuses, as applying v3 alone did
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      Ingest.snapshotCdcApplyAvailableNow(spark, src, s"$base/chk", dst, "id", Seq("id")))
    assert(messages(ex).exists(_.contains("is DROPPED")))
    assert(Snapshots.versions(spark, dst) === Seq(1L))
    assert(Snapshots.read(spark, dst).count() === 10L)
  }
}
