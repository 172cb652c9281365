package graft.etl

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StructType}

import scala.util.Try

/** S4/S5/S6/S8: sink layer. The reference upserts row-dict JSON over
  * HTTP from driver memory (`main.py:27-59`) — its scalability
  * cliff. Here the sink is a parquet-backed table (the offline
  * stand-in for `INSERT … ON CONFLICT` / Delta `MERGE`): the merge
  * is a distributed latest-wins dedup over (existing ∪ incoming),
  * written by executors — nothing is ever collected to the driver.
  * One parameterized writer serves both fact and quarantine
  * (collapsing the reference's S4/S5 duplication).
  *
  * Every table read here is opened by [[openTable]]: the file listing
  * is made on the driver and the schema comes from one footer, so
  * opening a table runs no Spark job (`spark.read.parquet` runs a
  * listing job past 32 partition directories and a schema job on
  * every open).
  */
object Load {

  /** NaN/±Inf → null for every float/double column (reference scrub
    * `main.py:42-46`; Spark distinguishes null from NaN, external
    * sinks want null).
    */
  def scrub(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType =>
          when(isnan(col(f.name)) || abs(col(f.name)) === Double.PositiveInfinity, lit(null))
            .otherwise(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** P2 + scrub: the sink-side contract (`main.py:30,42-46`). */
  def sinkReady(df: DataFrame): DataFrame = Sanitize.sanitizeHeaders(scrub(df))

  /** Number of hash-bucket partitions for upsert targets. Fixed and
    * layout-stable: changing it on an existing table would reshuffle
    * keys across partitions (a full rewrite), so it is a constant,
    * not a per-call knob.
    */
  val UpsertBuckets = 64

  /** Stable bucket of the business key — the fact table's partition
    * column. Same key → same bucket forever, so an upsert touches
    * exactly the partitions its incoming keys hash to.
    */
  def bucketOf(keys: Seq[String]): org.apache.spark.sql.Column =
    pmod(xxhash64(keys.map(col): _*), lit(UpsertBuckets.toLong))

  /** S4: upsert into a bucket-partitioned parquet table — latest
    * batch wins per business key. The table is partitioned by a
    * stable hash bucket of the key, so a batch only READS and
    * REWRITES the partitions its keys land in: cost is
    * O(touched buckets / total buckets · table), not O(table) —
    * at 100 TB an incremental batch touching 3 of 64 buckets reads
    * ~5% of the table instead of all of it. Untouched partitions'
    * files are never opened (asserted byte-identical in LoadSpec),
    * nor listed: only the touched `__bucket=` directories are. The
    * merge shuffles once ([[latestWins]]). The batch may leave columns
    * out (they merge as NULL) but not add one: the table's columns are
    * the touched buckets' schema, and an upsert carrying any other
    * column refuses before writing.
    */
  def upsert(spark: SparkSession, incoming: DataFrame, path: String,
             keys: Seq[String]): Unit = {
    recoverSwap(spark, path)
    val inc = sinkReady(incoming)
      .withColumn("__bucket", bucketOf(keys))
      .withColumn("__v", lit(1L))
    if (!tableExists(spark, path)) {
      val tmp = path + "__tmp"
      latestWins(inc, keys).write.mode("overwrite").partitionBy("__bucket").parquet(tmp)
      swap(spark, tmp, path)
      return
    }
    // touched buckets: a bounded driver-side collect (≤ UpsertBuckets
    // ints), the partition-pruning predicate for the read below
    val touched = inc.select("__bucket").distinct()
      .collect().map(_.getLong(0)).sorted
    if (touched.isEmpty) return
    // only the touched buckets' directories are listed; the filter
    // prunes the whole-table read of the spark.read.parquet fallback,
    // or of a cached read of the table that stands in for this one
    val cur = openTable(spark, path, touched.map(b => s"__bucket=$b").toSet)
      .filter(col("__bucket").isin(touched: _*))
      .withColumn("__v", lit(0L))
    // a column the table lacks would land only in the rewritten
    // buckets, and readers (schema from the first file) would never
    // see it: refuse before anything is written. Missing columns stay
    // legal (NULL-filled by the merge's union).
    val known = cur.columns.map(_.toLowerCase).toSet
    val extra = inc.columns.filterNot(c => known(c.toLowerCase))
    require(extra.isEmpty, s"upsert: the batch carries columns $path lacks " +
      s"(${extra.mkString(", ")}) — an upsert cannot add columns")
    // write merged buckets beside the table, then swap ONLY those
    // partition directories — untouched buckets are never rewritten.
    val tmp = path + "__tmp"
    latestWins(cur.unionByName(inc, allowMissingColumns = true), keys)
      .write.mode("overwrite").partitionBy("__bucket").parquet(tmp)
    // Crash-safe swap: the old generation is MOVED ASIDE (a sibling
    // dir, invisible to partition discovery), never deleted before
    // every new bucket is in place — at no point does any step
    // delete the only copy of a bucket, so a crash anywhere leaves a
    // recoverable table ([[recoverSwap]]) and a foreachBatch replay
    // converges instead of permanently losing the keys the incoming
    // batch didn't carry. Reader-visible window per bucket is two
    // metadata renames (not a recursive delete); a zero-window
    // commit would need a manifest/generation pointer, which the
    // plain-parquet read contract here deliberately avoids.
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new Path(asideDir(path))
    fs.mkdirs(aside)
    // phase 1: old generation aside
    touched.foreach { b =>
      val dst = new Path(s"$path/__bucket=$b")
      if (fs.exists(dst))
        renameOrAbort(fs, dst, new Path(aside, s"__bucket=$b"))
    }
    // phase 2: new generation in
    touched.foreach { b =>
      val src = new Path(s"$tmp/__bucket=$b")
      if (fs.exists(src))
        renameOrAbort(fs, src, new Path(s"$path/__bucket=$b"))
    }
    // phase 3: the swap is complete — only now drop the old copies.
    // (Reached only if every rename above succeeded: Hadoop rename
    // reports most failures by returning false, not throwing, and an
    // unconditional delete after a silent rename failure would drop
    // the only remaining copy of that bucket.)
    fs.delete(aside, true)
    fs.delete(new Path(tmp), true)
  }

  /** Latest `__v` wins per key, in one shuffle. Hash-partitioning on
    * `__bucket`, a function of the keys, already meets the window's
    * distribution over (`__bucket`, keys…), and the window's sort
    * meets the writer's ordering on `__bucket`, so Spark adds no
    * second exchange and no second sort. It also gives each bucket
    * one writer: without it every task would write a sliver into
    * every bucket directory (tasks × buckets small files per batch,
    * the classic 100 TB small-files trap); this way each bucket gets
    * one file per batch.
    */
  private def latestWins(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(("__bucket" +: keys).map(col): _*).orderBy(col("__v").desc)
    df.repartition(col("__bucket"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__v", "__rn")
  }

  private def asideDir(path: String): String = path + "__swap"

  /** Rename that refuses to be ignored: Hadoop `FileSystem.rename`
    * signals most failures (missing source, existing destination,
    * permission) by returning FALSE rather than throwing, and every
    * swap here deletes the moved-aside copy afterwards — so a silent
    * rename failure must abort the swap (leaving the aside/__prev
    * dirs in place for [[recoverSwap]]) before any delete runs.
    */
  private[etl] def renameOrAbort(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst (swap aborted; run recovery)")

  /** Recover a table from a crash mid-[[upsert]] swap. For each
    * bucket found aside: a missing table dir means the crash hit
    * between the two renames — restore the old generation; a present
    * table dir means the new generation already landed — keep it
    * (re-running the same batch converges: latest-wins merge of
    * (merged ∪ incoming) is idempotent). Leftover temp output is
    * dropped either way. Called at every upsert entry, so the next
    * batch — including a checkpoint replay of the crashed one —
    * always starts from a complete table.
    */
  private[etl] def recoverSwap(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverPrev(fs, path)
    val aside = new Path(asideDir(path))
    if (fs.exists(aside)) {
      fs.listStatus(aside).foreach { st =>
        val dst = new Path(path + "/" + st.getPath.getName)
        if (!fs.exists(dst)) renameOrAbort(fs, st.getPath, dst)
      }
      fs.delete(aside, true)
    }
    fs.delete(new Path(path + "__tmp"), true)
  }

  /** Restore a table whose whole-table [[swap]] crashed between the
    * aside rename and the new-generation rename (path missing, old
    * generation parked at `__prev`).
    */
  private def recoverPrev(fs: FileSystem, path: String): Unit = {
    val p = new Path(path)
    val prev = new Path(path + "__prev")
    if (!fs.exists(p) && fs.exists(prev)) renameOrAbort(fs, prev, p)
  }

  /** Whole-table swap with the same never-delete-the-only-copy
    * ordering as the bucket swap: old table aside → new in → drop
    * aside; entry recovers a crashed predecessor (path missing but
    * aside present → restore).
    */
  private[etl] def swap(spark: SparkSession, tmp: String, path: String): Unit = {
    val p = new Path(path)
    val t = new Path(tmp)
    val prev = new Path(path + "__prev")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverPrev(fs, path)
    if (fs.exists(p)) {
      fs.delete(prev, true)
      renameOrAbort(fs, p, prev)
    }
    renameOrAbort(fs, t, p)
    fs.delete(prev, true)
  }

  /** Read an upsert table without its internal bucket column. The
    * table is opened by [[openTable]]: listed on the driver, its
    * schema taken from one footer, no Spark job.
    */
  def readTable(spark: SparkSession, path: String): DataFrame =
    openTable(spark, path).drop("__bucket")

  /** The one table opener of this object: what `spark.read.parquet`
    * gives, without its jobs. The leaf files are listed with Hadoop
    * `listStatus` on the driver, skipping the names Spark skips (`_*`
    * without `=`, `.*`, `*._COPYING_`); `keep` narrows the top-level
    * entries (the upsert keeps its touched `__bucket=` directories).
    * The data schema is the Spark row schema in the footer of the
    * first file by path, the file `spark.read.parquet` reads it from
    * when `mergeSchema` is off; Spark still infers the partition
    * columns from the directories. With no file, or a first file
    * Spark did not write, the table is opened by `spark.read.parquet`.
    */
  private[graft] def openTable(spark: SparkSession, path: String,
                               keep: String => Boolean = _ => true): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val dir = fs.makeQualified(root)
    def visible(st: FileStatus) = {
      val n = st.getPath.getName
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))
    }
    def leaves(d: Path, take: FileStatus => Boolean): Seq[FileStatus] =
      fs.listStatus(d).toSeq.filter(take).flatMap { st =>
        if (st.isDirectory) leaves(st.getPath, visible) else Seq(st)
      }
    val files =
      try leaves(dir, st => visible(st) && keep(st.getPath.getName)).sortBy(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => Nil }
    files.headOption.flatMap(sparkSchema(_, conf)) match {
      case Some(schema) => GraftShim.parquetTable(spark, dir, files, schema)
      case None => spark.read.parquet(path)
    }
  }

  /** The Spark row schema a Spark writer keeps in the parquet footer. */
  private[etl] def sparkSchema(file: FileStatus,
                          conf: org.apache.hadoop.conf.Configuration): Option[StructType] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
    finally reader.close()
  }

  /** S5: quarantine sink — append semantics (schema-on-read,
    * constraint-free; `README.md:118`). The table is laid out as
    * `__batch=<id>` partition directories so the streaming writer
    * below can be replay-idempotent; the batch API appends into the
    * `-1` partition.
    */
  def appendQuarantine(incoming: DataFrame, path: String): Unit =
    sinkReady(incoming).write.mode("append").parquet(s"$path/__batch=-1")

  /** S5, streaming form: idempotent per micro-batch — a replayed
    * foreachBatch (crash after write, before the checkpoint commit)
    * OVERWRITES its own `__batch=<id>` partition instead of
    * double-appending, closing the at-least-once gap on the
    * quarantine path (the fact path is key-idempotent already).
    */
  def appendQuarantineIdempotent(incoming: DataFrame, path: String,
                                 batchId: Long): Unit =
    sinkReady(incoming).write.mode("overwrite").parquet(s"$path/__batch=$batchId")

  /** S6/J1: post-load normalization done in-Spark instead of a
    * Postgres stored procedure (`main.py:479`, `README.md:91`):
    * derive dimension tables from the fact's natural keys with
    * stable hash surrogates (no driver-side sequence — xxhash64 of
    * the natural key distributes and is idempotent across runs),
    * and an all-integer star fact. A surrogate IS the hash of its
    * natural key, so the fact computes its keys inline — no join, no
    * scan of the fact to build a dim first. Rows whose `items`,
    * `payment_type` or `order_type` is null are dropped, as an inner
    * join to the dims would drop them.
    */
  final case class Star(fact: DataFrame, dimItem: DataFrame, dimPayment: DataFrame,
                        dimOrderType: DataFrame)

  def normalizeStar(clean: DataFrame): Star = {
    def dim(c: String, idName: String) =
      clean.select(col(c)).distinct()
        .select(xxhash64(col(c)).as(idName), col(c))
    val fact = clean
      .filter(col("items").isNotNull && col("payment_type").isNotNull &&
        col("order_type").isNotNull)
      .select(col("order_id"), xxhash64(col("items")).as("item_id"),
        xxhash64(col("payment_type")).as("payment_type_id"),
        xxhash64(col("order_type")).as("order_type_id"), col("quantity"),
        col("total_order_amount"), col("received_amount"), col("payment_time"))
    Star(fact, dim("items", "item_id"), dim("payment_type", "payment_type_id"),
      dim("order_type", "order_type_id"))
  }

  /** S8: reprocess-quarantine — re-categorize quarantined rows
    * against the (possibly updated) dimension, move now-valid rows
    * to the fact table, rewrite quarantine with the remainder.
    */
  def reprocessQuarantine(spark: SparkSession, quarantinePath: String,
                          factPath: String, dim: DataFrame,
                          keys: Seq[String]): (Long, Long) = {
    // a crashed predecessor may have left the table parked at __prev
    // — without this, the exists check below would silently no-op
    recoverSwap(spark, quarantinePath)
    if (!tableExists(spark, quarantinePath)) return (0L, 0L)
    val q = openTable(spark, quarantinePath).drop("__batch")
    // Quarantined rows store the POST-title-case item (`main.py:385`
    // runs before the fact select), while dim keys are the vendor's
    // original casing — so the reprocess lookup title-cases the dim
    // key to match. Adding a product to the dim is sufficient to
    // promote its quarantined rows (the whole point of S8). Dims are
    // broadcast-sized; the initcap projection stays on the dim side.
    val dimT = dim.select(
        initcap(col("clean_item")).as("items"),
        col("sub_category"), col("category"))
      .dropDuplicates("items")
    val recat = q.drop("sub_category", "category")
    // cached once: both counts, the upsert and the rewrite read it
    val mapped = recat.join(broadcast(dimT), Seq("items"), "left").cache()
    try {
      val valid = Transform.factValidity
      val n = mapped.agg(count_if(valid), count_if(!valid)).head()
      val s = Transform.route(mapped)
      if (n.getLong(0) > 0) upsert(spark, s.clean, factPath, keys)
      // rewrite the remainder in the quarantine's __batch layout (the
      // reprocessed survivors all land in the batch-API partition)
      val tmp = quarantinePath + "__tmp"
      s.quarantine.write.mode("overwrite").parquet(tmp + "/__batch=-1")
      swap(spark, tmp, quarantinePath)
      (n.getLong(0), n.getLong(1))
    } finally mapped.unpersist()
  }

  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** Write-then-swap so readers never see a half-written table and
    * the input path can be part of the plan being written.
    */
  def writeAtomic(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val tmp = path + "__tmp"
    df.write.mode("overwrite").parquet(tmp)
    swap(spark, tmp, path)
  }

  /** Training-shard dataset writer: `shard=N` directory partitioning
    * plus a `_MANIFEST.json` commit marker (per-shard doc/token
    * counts, derived by RE-READING what actually landed on disk, not
    * from the input plan). The manifest is written inside the temp
    * dataset BEFORE the atomic whole-dir swap, so its presence IS
    * the commit point: [[readSharded]] refuses a dataset without
    * one, which makes a crashed or half-copied write unreadable
    * instead of silently short.
    *
    * Driver memory holds one manifest row per shard — fine for the
    * ~1e5 shards a sane token budget yields at 100 TB (pick budgets
    * that keep shards in the hundreds of MB, not the KB of the q64
    * demo scale).
    */
  def writeSharded(spark: SparkSession, df: DataFrame, shardCol: String,
                   tokCol: Option[String], path: String): Unit = {
    val tmp = path + "__tmp"
    // An empty frame writes no partition files, which would make the
    // stats re-read below unreadable — commit a schema-bearing empty
    // dataset (shard column as a plain column) with an empty
    // manifest instead of crashing mid-write.
    val empty = df.isEmpty
    if (empty) df.write.mode("overwrite").parquet(tmp)
    else df.write.mode("overwrite").partitionBy(shardCol).parquet(tmp)
    val rows =
      if (empty) Array.empty[String]
      else {
        val landed = openTable(spark, tmp)
        val stats = tokCol match {
          case Some(t) => landed.groupBy(shardCol)
            .agg(count(lit(1)).as("n_docs"), sum(col(t)).as("n_tokens"))
          case None => landed.groupBy(shardCol)
            .agg(count(lit(1)).as("n_docs"), lit(null).cast("long").as("n_tokens"))
        }
        stats.orderBy(shardCol).collect().map { r =>
          val toks = if (r.isNullAt(2)) "null" else r.getLong(2).toString
          s"""{"shard":${r.get(0)},"n_docs":${r.getLong(1)},"n_tokens":$toks}"""
        }
      }
    val manifest = new Path(tmp, "_MANIFEST.json")
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // JSON-lines (one shard per line): streamable, appendable in
    // spirit, and directly readable by spark.read.json
    val out = fs.create(manifest, true)
    try out.write(rows.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    swap(spark, tmp, path)
  }

  /** Read a [[writeSharded]] dataset, enforcing the manifest commit
    * marker. Recovers a table parked mid-swap (crash between the two
    * renames) first — a committed previous generation at `__prev` is
    * one rename away, not corrupt.
    */
  def readSharded(spark: SparkSession, path: String): DataFrame = {
    recoverSwap(spark, path)
    val manifest = new Path(path, "_MANIFEST.json")
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(manifest),
      s"$path has no _MANIFEST.json — uncommitted or partial shard dataset")
    openTable(spark, path)
  }

  /** Small-file compaction: rewrite a parquet table into
    * ⌈bytes/targetBytes⌉ files via the atomic swap. Incremental
    * ingest (streaming micro-batches, per-day upserts) accretes
    * thousands of KB-size files whose open/footer cost eventually
    * dominates scans; periodic compaction is standard table
    * maintenance at scale. Data is preserved exactly — only the
    * file layout changes.
    *
    * Partition-directory layouts (`name=value` dirs — the upsert's
    * `__bucket=`, quarantine's `__batch=`, shard datasets' `shard=`,
    * every real ingest table) compact RECURSIVELY: each leaf
    * partition dir is rewritten in place, so the dir tree — what
    * partition pruning keys on — is untouched and the partition
    * columns never flatten into the data files. Partitions compact
    * independently (per-partition atomic swap), exactly how a 100 TB
    * maintenance job shards the work. Manifest-committed shard
    * datasets still refuse: their commit marker must be rewritten
    * through [[writeSharded]], not around it.
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): Unit = {
    recoverSwap(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(p)
    require(!entries.exists(_.getPath.getName == "_MANIFEST.json"),
      s"$path is a manifest-committed shard dataset — rewrite via writeSharded")
    val partDirs = entries.filter(s =>
      s.isDirectory && s.getPath.getName.contains("="))
    if (partDirs.nonEmpty) {
      require(!entries.exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")),
        s"$path mixes data files and partition directories — not a valid layout")
      partDirs.foreach(d => compact(spark, d.getPath.toString, targetBytes))
    } else {
      val bytes = fs.getContentSummary(p).getLength
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      writeAtomic(spark, openTable(spark, path).repartition(nFiles), path)
    }
  }

  /** Range-clustered write: range-partition on `byCol` and sort
    * within partitions, so every output file covers a DISJOINT key
    * range and its parquet min/max statistics actually prune — a
    * point or range predicate on `byCol` then opens O(1) of the
    * files instead of all of them. This is the layout lever for
    * 100 TB scan-heavy tables (cheap Z-order stand-in for a single
    * clustering key).
    */
  def writeClustered(spark: SparkSession, df: DataFrame, byCol: String,
                     numFiles: Int, path: String): Unit =
    writeAtomic(spark,
      df.repartitionByRange(numFiles, col(byCol)).sortWithinPartitions(byCol),
      path)
}
