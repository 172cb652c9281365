package graft.streaming

import graft.etl.{Load, ParquetUpsertSink, StatsIndex, Transform, UpsertSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, Trigger}
import org.apache.spark.sql.types.StructType

/** S1/S7/A7: streaming ingest — the Spark-native form of the
  * reference's Drive-folder scan → per-file transform → archive loop
  * (`main.py:419-470`).
  *
  * The file source replaces the folder listing (S1); checkpointing
  * reads each file exactly once across restarts. foreachBatch
  * delivery is at-least-once, so both sinks are made replay-safe:
  * the fact upsert is key-idempotent and the quarantine write
  * overwrites its own `__batch=<id>` partition — a replayed batch
  * converges to the same table state (effectively-once end to end).
  * `cleanSource=archive` moves consumed files to the archive dir
  * (S7) — and unlike the reference (which archives only when
  * quarantine rows exist, `main.py:460-470`), every processed file
  * archives, per the documented intent (`README.md:92`).
  * `Trigger.AvailableNow` preserves the batch-cron operational model
  * while keeping the pipeline restartable and incremental.
  *
  * Every foreachBatch harness runs through ONE AvailableNow runner,
  * [[drain]] (only [[curateDocsAvailableNow]]'s parquet file sink,
  * whose `_spark_metadata` log is its exactly-once mechanism, starts
  * its own), reads through [[fileStream]] and writes through
  * [[writeOwnPartition]]; [[tailVersions]] and [[applyVersions]]
  * are the one version-log tail and derived-table loop.
  */
object Ingest {

  /** Raw POS report CSV schema (FIXTURES.md §A) — explicit, never
    * inferred in production (SURVEY.md §1.3).
    */
  val rawSchema: StructType = StructType.fromDDL(
    "`Order ID` STRING, `Products` STRING, `Product amount` STRING, " +
      "`Received amount` STRING, `Payment time` STRING, `Cash` STRING, " +
      "`Gcash` STRING, `Type/Channel` STRING")

  /** Business key for upsert idempotency (FIXTURES.md §A). */
  val factKeys: Seq[String] = Seq("order_id", "items", "payment_time")

  /** JSON-lines document schema (curation, drift, feature store). */
  private val docDDL = "doc_id LONG, text STRING, lang STRING"

  /** The one AvailableNow runner: run `stream` under `checkpointDir`
    * with `foreachBatch(each)` until every available input is done.
    * Checkpointed offsets plus an idempotent `each` are exactly-once.
    */
  private def drain(stream: DataFrame, checkpointDir: String,
                    outputMode: String = "append")
                   (each: (DataFrame, Long) => Unit): Unit =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(each)
      .start()
      .awaitTermination()

  /** A file-stream reader over `schemaDDL` (file streams never
    * infer), bounded to `maxFiles` files per micro-batch when asked.
    */
  private def fileStream(spark: SparkSession, schemaDDL: String,
                         maxFiles: Option[Int] = None): DataStreamReader = {
    val reader = spark.readStream.schema(schemaDDL)
    maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader
  }

  /** The replay-idempotent sink write: `df` lands in its own
    * `<partCol>=<id>` directory under `path` by DYNAMIC partition
    * overwrite, so a replay rewrites exactly that directory.
    */
  private def writeOwnPartition(df: DataFrame, partCol: String, id: Long,
                                path: String): Unit =
    df.withColumn(partCol, lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(path)

  /** The snapshot VERSION LOG as a stream (Delta's streaming source
    * tails its transaction log the same way): `each` gets a
    * micro-batch's new versions ascending plus the log's committed
    * set, listed once per micro-batch. Each version file is read
    * whole, so the codec always sees a complete body; the `collect()`
    * is one tiny body per commit, never data rows.
    */
  private def tailVersions(spark: SparkSession, root: String,
                           checkpointDir: String, maxFiles: Option[Int])
                          (each: (Seq[Long], Set[Long]) => Unit): Unit = {
    drain(fileStream(spark, "value STRING", maxFiles).option("wholetext", "true")
        .text(s"$root/_versions"), checkpointDir) { (batch, _) =>
      val vs = batch.collect().toSeq
        .flatMap(r => graft.etl.VersionLog.versionOf(r.getString(0))).sorted
      each(vs, graft.etl.Snapshots.versions(spark, root).toSet)
    }
  }

  /** The loop of the harnesses that maintain a DERIVED snapshot
    * table tagged with the SOURCE version. Each micro-batch hands
    * `applySpan(first, last, empty)` its PENDING span once: the versions
    * the log gained past the checkpointed offset, minus those the
    * destination tag already covers (replays and fresh-checkpoint
    * reruns pend nothing and skip). `empty` says the destination has
    * no version yet, so the span bootstraps it. A populated
    * destination mirrors the source at `first - 1`; the span refuses
    * when that version, or any predecessor inside the span, is gone
    * from the log, since re-snapshotting onto a populated destination
    * would duplicate its rows. Tag and emptiness are read once per
    * micro-batch, so the loop's own cost is per micro-batch, not per
    * version; `maxFiles = Some(1)` makes every span one version.
    */
  private def applyVersions(spark: SparkSession, srcRoot: String,
                            checkpointDir: String, dstRoot: String,
                            maxFiles: Option[Int])
                           (applySpan: (Long, Long, Boolean) => Unit): Unit = {
    val snap = graft.etl.Snapshots
    tailVersions(spark, srcRoot, checkpointDir, maxFiles) { (vs, committed) =>
      val tag = snap.lastTag(spark, dstRoot)
      val pending = vs.filterNot(v => tag.exists(_ >= v))
      if (pending.nonEmpty) {
        val empty = snap.latestVersion(spark, dstRoot).isEmpty
        (if (empty) pending.tail else pending).foreach(v =>
          require(committed.contains(v - 1),
            s"$srcRoot: version ${v - 1} is gone from the log " +
              s"(vacuumed?) — cannot derive version $v's changes; " +
              "re-bootstrap the derived table"))
        applySpan(pending.head, pending.last, empty)
      }
    }
  }

  /** Run one AvailableNow pass over the staging folder: transform
    * each micro-batch (E2), route clean/quarantine (F5), upsert the
    * fact table (S4), append quarantine (S5), archive consumed files
    * (S7). Returns when all available files are processed.
    */
  def ingestAvailableNow(spark: SparkSession, stagingDir: String,
                         archiveDir: String, checkpointDir: String,
                         factPath: String, quarantinePath: String,
                         dim: DataFrame): Unit =
    ingestAvailableNowTo(spark, stagingDir, archiveDir, checkpointDir,
      new ParquetUpsertSink(spark, factPath), quarantinePath, dim)

  /** Sink-agnostic form of the ingest loop: the fact target is any
    * [[UpsertSink]] — parquet stand-in or a JDBC `INSERT … ON
    * CONFLICT` / MERGE database — without touching transform or
    * routing.
    */
  def ingestAvailableNowTo(spark: SparkSession, stagingDir: String,
                           archiveDir: String, checkpointDir: String,
                           factSink: UpsertSink, quarantinePath: String,
                           dim: DataFrame): Unit =
    routeToSinks(
      fileStream(spark, rawSchema.toDDL)
        .option("header", "true")
        .option("cleanSource", "archive")
        .option("sourceArchiveDir", archiveDir)
        .csv(stagingDir),
      checkpointDir, factSink, quarantinePath, dim)(identity)

  /** The CSV and workbook ingest loop: `parse` a micro-batch into raw
    * report rows, transform (E2), route (F5), upsert (S4), quarantine
    * (S5). The micro-batch's fact is cached once and both sinks read
    * it — the upsert alone evaluates its input twice.
    */
  private def routeToSinks(stream: DataFrame, checkpointDir: String,
                           factSink: UpsertSink, quarantinePath: String,
                           dim: DataFrame)
                          (parse: DataFrame => DataFrame): Unit =
    drain(stream, checkpointDir) { (batch, batchId) =>
      val fact = Transform.transform(parse(batch), dim).cache()
      try {
        val split = Transform.route(fact)
        factSink.upsert(split.clean, factKeys)
        Load.appendQuarantineIdempotent(split.quarantine, quarantinePath, batchId)
      } finally fact.unpersist()
    }

  /** Event time must be an INSTANT: a watermark on TIMESTAMP_NTZ is
    * rejected outright (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and
    * arrow/pandas-written parquet carries naive timestamps that
    * Spark 4 infers as NTZ by default. Reinterpret naive wall-clock
    * as session-timezone instants (pin `spark.sql.session.timeZone`
    * in production); a column that is already TIMESTAMP passes
    * through untouched, so every watermark site coerces
    * unconditionally.
    */
  private def asEventTime(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol,
          col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** A7: watermarked tumbling-window aggregation over an event
    * stream — late data beyond the watermark is dropped, state is
    * bounded. Caller attaches the sink (tests use format("memory")).
    */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     window_ : String = "5 minutes"): DataFrame =
    asEventTime(events, "ts")
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** The binaryFile source's fixed schema. */
  private val binaryFileDDL =
    "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"

  /** S1/S3/S7 for WORKBOOKS, streaming form: Spark has no xlsx file
    * stream, but `binaryFile` is a regular file-stream format — so
    * staged workbooks flow through the same checkpointed,
    * exactly-once-per-file, archive-on-consume loop as the CSV path,
    * and each micro-batch's workbook bytes parse executor-side
    * ([[graft.sources.Xlsx.sheetsOf]]) before the usual transform →
    * route → idempotent sinks. Corrupt workbooks are skipped
    * file-grained (F1), matching the batch path.
    */
  def ingestXlsxAvailableNow(spark: SparkSession, stagingDir: String,
                             archiveDir: String, checkpointDir: String,
                             factSink: UpsertSink, quarantinePath: String,
                             dim: DataFrame,
                             sheetName: String = "Paid order list"): Unit =
    routeToSinks(
      fileStream(spark, binaryFileDDL)
        .format("binaryFile")
        .option("pathGlobFilter", "*.xlsx")
        .option("cleanSource", "archive")
        .option("sourceArchiveDir", archiveDir)
        .load(stagingDir),
      checkpointDir, factSink, quarantinePath, dim) { batch =>
      graft.sources.Xlsx
        .sheetsOf(batch, sheetName, rawSchema, skipCorrupt = true)
        .drop("_src_file")
    }

  /** One batch ingest pass through the pluggable sheet-source seam
    * (S3): read every staged sheet via `source` (CSV stand-in or the
    * real .xlsx reader), transform (E2), route (F5), upsert the
    * fact (S4), append quarantine (S5); returns the (clean,
    * quarantine) row counts. The transformed fact is cached ONCE,
    * counted in one aggregate, and both sinks are routed off that
    * cache, so the transform is materialized once per drop, not once
    * per sink. The streaming loop above covers incremental CSV; this
    * covers formats Spark has no file stream for — the reference's
    * daily-workbook cadence is a cron batch anyway (`main.py:419`).
    */
  def ingestBatch(spark: SparkSession, stagingDir: String,
                  source: graft.sources.FileSources.RawSheetSource,
                  factSink: UpsertSink, quarantinePath: String,
                  dim: DataFrame,
                  archiveDir: Option[String] = None): (Long, Long) = {
    val raw = source.read(spark, stagingDir, rawSchema)
    val fact = Transform.transform(raw, dim).cache()
    val (nc, nq) = try {
      val valid = Transform.factValidity
      val n = fact.agg(count_if(valid), count_if(!valid)).head()
      val split = Transform.route(fact)
      factSink.upsert(split.clean, factKeys)
      Load.appendQuarantine(split.quarantine, quarantinePath)
      (n.getLong(0), n.getLong(1))
    } finally fact.unpersist()
    // S7 for the batch path: move consumed staging files to the
    // archive AFTER both sinks committed (crash before this point
    // re-reads the files; the key-idempotent fact upsert converges,
    // quarantine double-append is the known batch-API cost)
    archiveDir.foreach(archiveStaged(spark, stagingDir, _))
    (nc, nq)
  }

  /** Move every file under `stagingDir` into `archiveDir` (driver-side
    * rename — file COUNT is the daily-workbook cadence, not data
    * volume; the bytes never move through the driver).
    */
  def archiveStaged(spark: SparkSession, stagingDir: String,
                    archiveDir: String): Int = {
    val staging = new org.apache.hadoop.fs.Path(stagingDir)
    val archive = new org.apache.hadoop.fs.Path(archiveDir)
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(archive)) fs.mkdirs(archive)
    val files = fs.listStatus(staging).filter(_.isFile)
    files.foreach(f =>
      fs.rename(f.getPath, new org.apache.hadoop.fs.Path(archive, f.getPath.getName)))
    files.length
  }

  /** A5/A7: streaming session windows — per-user sessions that close
    * when no event arrives within `gap`; the watermark bounds state
    * (sessions older than it finalize and emit). Batch-deterministic
    * twin: q53_session_window.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    asEventTime(events, "ts")
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"), col("n"))

  /** C2/A8 streaming form: exactly-once-per-key within the watermark
    * horizon — bounded-state streaming dedup on the business key.
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           watermark: String = "10 minutes"): DataFrame =
    asEventTime(events, "ts").withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** A7: stream-stream interval join — each click pairs with the
    * same user's purchases that follow it within `within`. Both
    * sides carry watermarks AND the join condition bounds event time
    * on both sides, which is what lets Spark expire join state: a
    * buffered click can be dropped once the purchase-side watermark
    * passes `click_ts + within`, so state is O(watermark horizon),
    * not O(stream). Batch-equivalent semantics asserted in
    * IngestSpec against the same join run as a plain batch query.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        watermark: String = "30 minutes",
                        within: String = "1 hour"): DataFrame = {
    val c = asEventTime(clicks, "ts")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = asEventTime(purchases, "ts")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $within"))
      .drop("p_user_id")
  }

  /** Document curation as a STREAMING pass: quality filter, exact
    * content dedup, and PII redaction lifted unchanged into
    * Structured Streaming over a folder of JSON-lines document
    * files. The filter and redaction are stateless projections (they
    * lift for free); the dedup is streaming `dropDuplicates` keyed
    * on the content fingerprint, whose state lives in the checkpoint
    * — so a document seen in ANY earlier pass stays deduped in every
    * later one, and replays are exactly-once.
    *
    * State note: fingerprint-dedup state grows with distinct content
    * forever by design (content dedup has no time horizon). At
    * 100 TB, bound it with RocksDB state-store + a periodic
    * compaction job, or switch to [[dedupWithinWatermark]] semantics
    * when an ingest-time horizon is acceptable.
    */
  def curateDocsAvailableNow(spark: SparkSession, stagingDir: String,
                             checkpointDir: String, outPath: String): Unit = {
    import graft.llm.{Pii, TextStats}
    val curated = fileStream(spark, docDDL).json(stagingDir)
      .filter(TextStats.qualityScoreRaw(col("text")) >= 0.5)
      .withColumn("fp", TextStats.fingerprint(col("text")))
      .dropDuplicates("fp")
      .withColumn("text", Pii.redact(col("text")))
      .drop("fp")
    val q = curated.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outPath)
      .start()
    q.awaitTermination()
  }

  /** STREAMING corpus drift monitor — the streaming twin of
    * [[graft.llm.Drift]] (q133): watch a folder of JSON-lines
    * document files, maintain the RUNNING token counts of everything
    * ingested so far (streaming groupBy aggregation — state bounded
    * by |vocab|, checkpointed, exactly-once state across restarts),
    * and per micro-batch emit one row with the quantized-TV distance
    * of the accumulated distribution against a fixed REFERENCE
    * distribution: (batch_id, n_ref, n_cur, vocab_ref, vocab_cur,
    * vocab_union, tv_microsum, tv_dist).
    *
    * The production read: a crawl lands file-by-file, and the
    * appended curve shows the incoming corpus converging toward (or
    * drifting from) the reference mix — the alarm fires on the
    * trend, not on one batch. Complete-output streaming aggregation
    * is the right state primitive because the metric needs the FULL
    * accumulated distribution each batch and that distribution is
    * vocab-bounded, not stream-bounded; the per-batch TV arithmetic
    * is the same exact-integer [[graft.llm.Drift]] path the q133
    * oracle verifies. IngestSpec proves the final appended row
    * equals the batch `Drift.summary` over the same files.
    *
    * Output idempotency: a retried batch would duplicate its summary
    * row under a plain append, so each batch's row lands in its own
    * `batch_id=N` directory ([[writeOwnPartition]]).
    */
  def driftMonitorAvailableNow(spark: SparkSession, stagingDir: String,
                               checkpointDir: String, refDocs: DataFrame,
                               textCol: String, outPath: String,
                               maxFilesPerTrigger: Option[Int] = None): Unit = {
    import graft.llm.Drift
    val refCounts = Drift.sideCounts(refDocs, textCol, "a")
      .localCheckpoint(eager = true) // fixed side: evaluate once, reuse per batch
    // q137 bounds files per micro-batch to 1 to force a genuine
    // multi-batch accumulation through the state store
    val runningCounts = fileStream(spark, docDDL, maxFilesPerTrigger)
      .json(stagingDir)
      .select(explode(graft.llm.TextStats.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("b"))
    drain(runningCounts, checkpointDir, "complete") { (batch, batchId) =>
      writeOwnPartition(Drift.summarize(Drift.deltasFromCounts(refCounts, batch)),
        "batch_id", batchId, outPath)
    }
  }

  /** STREAMING CDC apply behind a real AvailableNow run — the
    * runtime harness for [[Stateful.cdcResolved]] (q139, the q137
    * discipline applied to the flatMapGroupsWithState family): watch
    * a folder of JSON-lines change files (k, ver, op, payload),
    * resolve per-key highest-version state through the checkpointed
    * state store across genuine micro-batches, and write each
    * batch's EMITTED changes (Update mode — only keys whose resolved
    * state changed this batch) to its own `batch_id=` directory
    * ([[writeOwnPartition]]).
    *
    * Reading the result: cdcResolved emits a key only when its
    * state changes, so each key's HIGHEST-batch_id row is its final
    * resolved state — one `max_by` per key reconstructs the same
    * snapshot [[graft.etl.Cdc.state]] computes over the whole log
    * (StatefulSpec pins that equivalence under arbitrary slicing;
    * q139 pins it through the actual streaming runtime against the
    * q106 oracle).
    */
  def cdcResolvedAvailableNow(spark: SparkSession, stagingDir: String,
                              checkpointDir: String, outPath: String,
                              maxFilesPerTrigger: Option[Int] = None): Unit = {
    val resolved = Stateful.cdcResolved(
      fileStream(spark, "k LONG, ver LONG, op STRING, payload STRING",
        maxFilesPerTrigger).json(stagingDir))
    drain(resolved.toDF(), checkpointDir, "update")(
      (batch, batchId) => writeOwnPartition(batch, "batch_id", batchId, outPath))
  }

  /** Stage `slices` into `stagingDir` as one JSON file each, with
    * strictly ascending modification times (60 s apart) so the file
    * stream source — which orders unread files by (modTime, path) —
    * consumes them in slice order under `maxFilesPerTrigger=1`.
    *
    * This is the arrival-order contract ORDER-SENSITIVE stateful ops
    * need (a running-baseline fold must see earlier readings in
    * earlier batches); order-INSENSITIVE ops (CDC max-version, the
    * copy-count feature store) can stage unordered like q139 does.
    * One file per slice keeps the batch↔slice mapping exact.
    */
  def stageOrderedJson(spark: SparkSession, slices: Seq[DataFrame],
                       stagingDir: String): Unit =
    stageOrdered(spark, slices, stagingDir, "json")

  /** [[stageOrderedJson]]'s parquet twin for BINARY-carrying rows
    * (JSON lines cannot stage image payloads): one parquet file per
    * slice, ascending mtimes, so the file streaming source delivers
    * slices as separate micro-batches in order.
    */
  def stageOrderedParquet(spark: SparkSession, slices: Seq[DataFrame],
                          stagingDir: String): Unit =
    stageOrdered(spark, slices, stagingDir, "parquet")

  /** Both stagers' body: slice i is one `slice<NNNN>.<format>` file. */
  private def stageOrdered(spark: SparkSession, slices: Seq[DataFrame],
                           stagingDir: String, format: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(stagingDir))
    val t0 = System.currentTimeMillis() - 3600L * 1000 * slices.size
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$stagingDir/__slice$i"
      df.coalesce(1).write.mode("overwrite").format(format).save(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
      val dest = new org.apache.hadoop.fs.Path(stagingDir, f"slice$i%04d.$format")
      if (!fs.rename(part, dest))
        throw new IllegalStateException(s"could not stage $dest")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      fs.setTimes(dest, t0 + i * 60000L, -1)
    }
  }

  /** STREAMING perceptual dedup behind a real AvailableNow run —
    * the q137/q139 runtime discipline applied to the fingerprint
    * tier (q161): watch a folder of image-payload parquet files,
    * decode + sign each micro-batch through the REAL ImageIO path,
    * probe it against the SIGNATURE STORE accumulated from every
    * earlier batch ([[graft.llm.SigDedup.incrementalNearDups]] —
    * fresh×store ∪ fresh×fresh, never store×store), then append the
    * batch's signatures to the store. Both sinks are
    * batch_id-partitioned with dynamic partition overwrite, and the
    * store read excludes the CURRENT batch_id's rows, so a crashed
    * batch replays idempotently (the drift/CDC sink discipline).
    *
    * Contract: every near-dup pair is emitted exactly once — in the
    * batch that carried its LATER member — so the union of all
    * batch partitions equals the one-shot batch dedup of the full
    * corpus (q153's pair graph), which is exactly what the q161
    * oracle checks.
    */
  def phashDedupAvailableNow(spark: SparkSession, stagingDir: String,
                             checkpointDir: String, storeDir: String,
                             outDir: String,
                             maxFilesPerTrigger: Option[Int] = None): Unit =
    drain(fileStream(spark, "doc_id LONG, content BINARY", maxFilesPerTrigger)
      .parquet(stagingDir), checkpointDir) { (batch, batchId) =>
      // cache the batch's signatures ONCE: the dedup join and the
      // store append both consume them, and without the cache the
      // second consumer would re-run the expensive ImageIO decode
      // over the whole batch
      val sigs = graft.sources.Multimodal
        .decodeImages(batch, "content", grid = 8)
        .select(col("doc_id"), col("ahash_hi"), col("ahash_lo"))
        .persist()
      // foreachBatch hands frames a CLONED session — barrier caches
      // land under it, not the outer `spark`; mark both
      val batchSession = batch.sparkSession
      val cacheMark = graft.llm.BarrierCache.mark(spark)
      val cacheMarkB = graft.llm.BarrierCache.mark(batchSession)
      try {
        val store =
          if (Load.tableExists(spark, storeDir))
            spark.read.parquet(storeDir)
              .filter(col("batch_id") =!= batchId)
              .select("doc_id", "ahash_hi", "ahash_lo")
          else sigs.limit(0)
        writeOwnPartition(graft.llm.SigDedup.incrementalNearDups(
            store, sigs, "doc_id", "ahash_hi", "ahash_lo", maxDist = 7),
          "batch_id", batchId, outDir)
        writeOwnPartition(sigs, "batch_id", batchId, storeDir)
      } finally {
        // a long-running stream must not accrete one batch's worth
        // of cached plans per trigger: drop this batch's explicit
        // cache AND the barrier caches SigDedup tracked for it —
        // but ONLY this batch's (sweepSince): the session's shared
        // caches outside the stream must survive the trigger
        sigs.unpersist()
        graft.llm.BarrierCache.sweepSince(spark, cacheMark)
        if (!(batchSession eq spark))
          graft.llm.BarrierCache.sweepSince(batchSession, cacheMarkB)
      }
    }

  /** STREAMING ingest that keeps its OWN data-skipping index fresh —
    * the production shape of [[graft.etl.StatsIndex]] maintenance:
    * every micro-batch lands its rows in a `batch_id=` partition of
    * the data table (dynamic partition overwrite — replay-idempotent,
    * the q137/q139 sink discipline) and then brings the per-file
    * min/max stats table up to date via [[StatsIndex.updateFor]],
    * which scans ONLY the files this batch added (and drops rows for
    * any files a crash-replay overwrote). Range queries over the
    * growing table prune from the always-fresh stats — no
    * rebuild-the-index batch job trailing the stream.
    *
    * Crash story: data write and stats write are separate actions,
    * but the data sink is batch_id-idempotent and `updateFor`
    * reconciles the stats against the ACTUAL listing, so a replayed
    * batch converges both artifacts to the same state; the stats
    * table itself swaps atomically ([[Load.writeAtomic]]), so
    * readers never see a half-written index.
    */
  def statsIndexedIngestAvailableNow(spark: SparkSession, stagingDir: String,
                                     checkpointDir: String, dataDir: String,
                                     statsDir: String, statsCols: Seq[String],
                                     schemaDDL: String,
                                     maxFilesPerTrigger: Option[Int] = None): Unit =
    drain(fileStream(spark, schemaDDL, maxFilesPerTrigger).parquet(stagingDir),
      checkpointDir) { (batch, batchId) =>
      writeOwnPartition(batch, "batch_id", batchId, dataDir)
      // a crash-replay OVERWRITES its partition (deleting files) —
      // drop any cached listing before reconciling the stats
      spark.catalog.refreshByPath(dataDir)
      val updated =
        if (Load.tableExists(spark, statsDir))
          StatsIndex.updateFor(spark, dataDir,
            Load.readTable(spark, statsDir), statsCols)
        else StatsIndex.build(spark, dataDir, statsCols)
      Load.writeAtomic(spark, updated, statsDir)
    }

  /** STREAMING ingest that commits every micro-batch as a snapshot
    * VERSION — the exactly-once lakehouse sink ([[graft.etl.Snapshots]]
    * as a streaming target, Delta's `writeStream.format("delta")`
    * shape): each batch lands via [[graft.etl.Snapshots.append]] —
    * METADATA-ONLY append: the new version references every prior
    * file verbatim and adds only the batch's fresh dir, so commit
    * cost is O(batch), independent of table size — and records its
    * micro-batch id as the version's idempotency `tag`.
    *
    * Exactly-once story: foreachBatch is at-least-once (a crash
    * after the append but before the checkpoint commit replays the
    * batch), but a replayed batch sees `lastTag >= batchId` and
    * SKIPS — the version log itself is the transactional sink state,
    * so even a FRESH-checkpoint replay over the same staging folder
    * is a no-op (same ids re-delivered, all already committed).
    * Readers time-travel to any batch boundary; the per-version
    * stats index stays fresh through append's incremental hook.
    */
  def snapshotIngestAvailableNow(spark: SparkSession, stagingDir: String,
                                 checkpointDir: String, tableRoot: String,
                                 statsCols: Seq[String], schemaDDL: String,
                                 maxFilesPerTrigger: Option[Int] = None): Unit =
    drain(fileStream(spark, schemaDDL, maxFilesPerTrigger).parquet(stagingDir),
      checkpointDir) { (batch, batchId) =>
      if (!graft.etl.Snapshots.lastTag(spark, tableRoot).exists(_ >= batchId))
        graft.etl.Snapshots.append(spark, batch, tableRoot,
          statsCols, tag = Some(batchId))
    }

  /** STREAMING CDC UPSERT into the snapshot tier — the lakehouse
    * form of the CDC-apply pipeline ([[graft.etl.Cdc]]'s semantics
    * behind [[graft.etl.Snapshots.merge]]): every real AvailableNow
    * micro-batch of key-distinct change rows MERGEs into the
    * versioned table — matched keys replace, new keys insert — with
    * the batch id recorded as the version's idempotency tag, so a
    * crash replay or a fresh-checkpoint rerun sees its id already
    * committed and skips (the [[snapshotIngestAvailableNow]]
    * discipline, lifted from append to row-level upsert). The first
    * batch BOOTSTRAPS the table via the tagged metadata-only append.
    *
    * Scale shape: each batch's merge rewrites only the files whose
    * key range the batch touches (stats-targeted — a key-localized
    * CDC feed against a key-clustered layout rewrites O(batch
    * locality) files), and the stats index is maintained
    * incrementally in the same commit.
    */
  def snapshotUpsertAvailableNow(spark: SparkSession, stagingDir: String,
                                 checkpointDir: String, tableRoot: String,
                                 key: String, statsCols: Seq[String],
                                 schemaDDL: String,
                                 maxFilesPerTrigger: Option[Int] = None): Unit =
    drain(fileStream(spark, schemaDDL, maxFilesPerTrigger).parquet(stagingDir),
      checkpointDir) { (batch, batchId) =>
      val snap = graft.etl.Snapshots
      if (!snap.lastTag(spark, tableRoot).exists(_ >= batchId)) {
        if (snap.latestVersion(spark, tableRoot).isEmpty)
          snap.append(spark, batch, tableRoot, statsCols, tag = Some(batchId))
        else snap.merge(spark, batch, tableRoot, key, statsCols, tag = Some(batchId))
      }
    }

  /** BRONZE→SILVER incremental table pipeline (the medallion step):
    * a DERIVED snapshot table maintained from a source snapshot
    * table's change feed — the version log is the stream (as in
    * [[snapshotChangesAvailableNow]]), and each source version's
    * inserts run through `transform` and APPEND to the destination
    * table tagged with the SOURCE VERSION number, so the derived
    * table's idempotency tags record exactly which source commits it
    * embodies: crash replays and fresh-checkpoint reruns see their
    * source version already consumed and skip (exactly-once,
    * checkpoint-loss-proof). The first version BOOTSTRAPS the
    * destination from the full snapshot; after that, per-version
    * cost is the churn (the source table is never rescanned).
    *
    * Contract: the source must be APPEND-ONLY over the consumed span
    * (the ingest steady state); a feed carrying deletes fails loudly
    * rather than silently dropping them — row-level source mutation
    * needs the keyed feed and a merge-apply, a different pipeline. A
    * gap (source vacuumed past an unapplied version) refuses like
    * [[snapshotCdcApplyAvailableNow]] ([[applyVersions]] is their one
    * loop) instead of duplicating the destination's rows.
    */
  def snapshotPipelineAvailableNow(spark: SparkSession, srcRoot: String,
                                   checkpointDir: String, dstRoot: String,
                                   statsCols: Seq[String],
                                   transform: DataFrame => DataFrame,
                                   maxFilesPerTrigger: Option[Int] = None): Unit = {
    val snap = graft.etl.Snapshots
    def land(v: Long, rows: DataFrame): Unit =
      snap.append(spark, transform(rows), dstRoot, statsCols, tag = Some(v))
    applyVersions(spark, srcRoot, checkpointDir, dstRoot, maxFilesPerTrigger) {
      (first, last, empty) =>
        if (empty) land(first, snap.read(spark, srcRoot, Some(first)))
        // one append per source version, so each keeps its own tag
        ((if (empty) first + 1 else first) to last).foreach { v =>
          val feed = snap.changes(spark, srcRoot, v - 1, v).df.localCheckpoint()
          require(feed.filter(col("_change_type") =!= "insert").isEmpty,
            s"$srcRoot version $v feed carries deletes — " +
              "snapshotPipelineAvailableNow requires an append-only source")
          land(v, feed.filter(col("_change_type") === "insert").drop("_change_type"))
        }
    }
  }

  /** STREAMING CHANGE-FEED consumer — the read side of
    * [[snapshotIngestAvailableNow]]: the snapshot VERSION LOG ITSELF
    * is the stream ([[tailVersions]]), with checkpointed progress — no
    * polling protocol beyond the one the log already provides. Every
    * version v in a batch emits its NET change frame
    * ([[graft.etl.Snapshots.changes]](v-1, v) — file-granular,
    * churned-files-only) or, when v-1 is not in the log (consumer
    * attached mid-history / first commit), the full version as the
    * INITIAL SNAPSHOT, into `outDir/batch_v=<v>` with dynamic
    * partition overwrite.
    *
    * It keeps that re-snapshot, unlike [[applyVersions]]' gap refusal:
    * it has no destination table whose tag could tell a first attach
    * from a gap, and each version's output is its own partition.
    *
    * The VERSION number — not the stream's batch id — is the
    * idempotency key: per-version output is deterministic, so a
    * crash replay or a fresh-checkpoint rerun rewrites the same
    * partitions with the same rows (the q161/q171 exactly-once
    * discipline). Batch slicing is invariant by construction: the
    * union of all `batch_v` partitions ≡ initial snapshot +
    * changes(first, latest), however the commits were grouped into
    * micro-batches.
    */
  def snapshotChangesAvailableNow(spark: SparkSession, tableRoot: String,
                                  checkpointDir: String, outDir: String,
                                  maxFilesPerTrigger: Option[Int] = None): Unit = {
    val snap = graft.etl.Snapshots
    tailVersions(spark, tableRoot, checkpointDir, maxFilesPerTrigger) { (vs, committed) =>
      vs.foreach { v =>
        val df =
          if (committed.contains(v - 1))
            snap.changes(spark, tableRoot, v - 1, v).df
          else snap.read(spark, tableRoot, Some(v))
            .withColumn("_change_type", lit("insert"))
        writeOwnPartition(df, "batch_v", v, outDir)
      }
    }
  }

  /** STREAMING KEYED CHANGE-FEED apply — Delta's `readChangeFeed` →
    * MERGE loop as ONE seam, maintaining a DERIVED snapshot table
    * from a source table's keyed changes: the source version log is
    * the stream ([[tailVersions]]), and each micro-batch's pending
    * span `[first, last]` ([[applyVersions]]) applies to the
    * destination in ONE commit tagged `last` (group commit, the unit
    * of exactly-once delivery being the micro-batch, as in Structured
    * Streaming and Delta's change-feed MERGE). The commit is the span's
    * KEYED net change frame ([[graft.etl.Snapshots.changesKeyed]]
    * from `first - 1` to `last` — churn-only, the base table never
    * rescanned): postimages and inserts UPSERT, deletes DELETE — the
    * explicit-clause MERGE with `_change_type` riding the source as a
    * discriminator column (preimages drop; the postimage carries the
    * row's new state). The destination mirrors the source at
    * `first - 1`, and the net diff to `last` takes it to the state
    * applying the versions one by one would reach; a file rewritten
    * twice inside the span is read once, and every touched
    * destination file is rewritten once.
    *
    * Exactly-once: the span's LAST source version is the
    * destination's idempotency tag, so a crash replay, a checkpoint
    * resume, or a fresh-checkpoint rerun sees its versions already
    * applied and skips — the [[snapshotPipelineAvailableNow]]
    * discipline ([[applyVersions]] is their one loop), lifted from
    * append-only feeds to full row-level mutation (the q180
    * derived-store maintenance without the harness loop). An EMPTY
    * destination bootstraps with the full snapshot at `last`.
    * `maxFilesPerTrigger = Some(1)` gives one commit per source
    * version.
    *
    * Contract: rows must be key-identified (the upsert contract —
    * non-null keys, unique per version; null-key churn cannot be
    * applied BY KEY and such feeds need the un-keyed pipeline). A gap
    * in the consumed span (source history vacuumed past an unapplied
    * version) refuses loudly rather than silently re-snapshotting,
    * and so does a span holding a DROP TABLE tombstone. Cost per
    * MICRO-BATCH, not per version: one churn read of the span's net
    * change + one stats-targeted merge that rewrites only the files
    * the churn keys touch.
    */
  def snapshotCdcApplyAvailableNow(spark: SparkSession, srcRoot: String,
                                   checkpointDir: String, dstRoot: String,
                                   key: String, statsCols: Seq[String],
                                   maxFilesPerTrigger: Option[Int] = None): Unit = {
    val snap = graft.etl.Snapshots
    applyVersions(spark, srcRoot, checkpointDir, dstRoot, maxFilesPerTrigger) {
      (first, last, empty) =>
        // the net diff checks only its endpoints for a DROP TABLE
        // tombstone; the versions inside the span are checked here,
        // as applying them one by one would
        (first until last).foreach(v => snap.requireLive(
          snap.versionMeta(spark, srcRoot, v), srcRoot, "changes(to)"))
        if (empty)
          snap.append(spark, snap.read(spark, srcRoot, Some(last)),
            dstRoot, statsCols, tag = Some(last))
        else {
          val feed = snap.changesKeyed(spark, srcRoot, first - 1, last, key).df
            .filter(col("_change_type") =!= "update_preimage")
            .persist()
          try {
            val dataCols = feed.columns.toSeq.filterNot(_ == "_change_type")
            snap.mergeClauses(spark, feed, dstRoot, key, statsCols, "t", "u",
              matched = Seq(
                snap.MatchedDelete(Some(col("u._change_type") === "delete")),
                snap.MatchedUpdate(
                  Some(col("u._change_type") =!= "delete"),
                  Some(dataCols.filterNot(_ == key).map(c => c -> col(s"u.$c"))))),
              insertCond = None,
              inserts = Seq(snap.InsertClause(
                Some(col("u._change_type") =!= "delete"),
                Some(dataCols.map(c => c -> col(s"u.$c"))))),
              tag = Some(last))
          } finally feed.unpersist()
        }
    }
  }

  /** STREAMING spike alerting behind a real AvailableNow run — the
    * q137/q139 runtime discipline applied to
    * [[Stateful.spikeAlerts]]: watch a folder of JSON-lines reading
    * files (key, seq, cents), fold each key's exact integer baseline
    * (n, Σcents) through the checkpointed state store across genuine
    * micro-batches, and write every batch's alerts to its own
    * `batch_id=` directory ([[writeOwnPartition]]).
    *
    * Every reading emits exactly one alert in the batch that carried
    * it, so the union of all batch partitions IS the full alert
    * stream; staged via [[stageOrderedJson]] (seq-sliced files), the
    * result equals the one-shot ordered batch replay — the q150
    * DuckDB oracle.
    */
  def spikeAlertsAvailableNow(spark: SparkSession, stagingDir: String,
                              checkpointDir: String, outPath: String,
                              factor: Double = 1.5,
                              maxFilesPerTrigger: Option[Int] = None): Unit = {
    val alerts = Stateful.spikeAlerts(
      fileStream(spark, "key LONG, seq LONG, cents LONG", maxFilesPerTrigger)
        .json(stagingDir), factor)
    drain(alerts.toDF(), checkpointDir, "update")(
      (batch, batchId) => writeOwnPartition(batch, "batch_id", batchId, outPath))
  }

  /** STREAMING per-doc feature store behind a real AvailableNow run —
    * the runtime harness for [[Stateful.docFeatures]]: watch a folder
    * of JSON-lines doc files (doc_id, text, lang), maintain the
    * fingerprint copy-count state across genuine micro-batches, and
    * write each batch's EMITTED feature rows (every doc of a group
    * re-emits when its group grows) to its own `batch_id=` directory.
    *
    * Reading the result: each doc's HIGHEST-batch_id row is its
    * final feature row (emission order is irrelevant — the final
    * copy count is a pure function of the full corpus), so one
    * `max_by(…, batch_id)` per doc reconstructs the batch recompute
    * under ANY slicing of the input — the q151 oracle (the q108 base
    * feature SQL).
    */
  def docFeaturesAvailableNow(spark: SparkSession, stagingDir: String,
                              checkpointDir: String, outPath: String,
                              maxFilesPerTrigger: Option[Int] = None): Unit = {
    val feats = Stateful.docFeatures(
      fileStream(spark, docDDL, maxFilesPerTrigger).json(stagingDir))
    drain(feats.toDF(), checkpointDir, "update")(
      (batch, batchId) => writeOwnPartition(batch, "batch_id", batchId, outPath))
  }
}
