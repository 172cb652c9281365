package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data-skipping index — the Delta/Iceberg pattern: a
  * per-file (row count, per-column min/max, null count) stats table
  * maintained NEXT TO a parquet dataset, so a range or point
  * predicate prunes the file LIST from metadata alone, without
  * opening a single parquet footer. Parquet footers already carry
  * these stats, but at 100 TB a table is millions of files and
  * "read every footer to decide what to skip" is itself the
  * bottleneck (per-file round trips on an object store); the stats
  * table turns planning into ONE bounded metadata scan — and it
  * composes with [[Load.writeClustered]] / [[ZOrder]], which exist
  * precisely to make per-file min/max ranges tight.
  *
  * Layouts: both flat dirs and Hive-style partition-dir trees
  * (`k=v/` subdirs — the layout every real ingest table has, and the
  * engine's own sinks produce: upsert's `__bucket=`, quarantine's
  * `__batch=`, shard datasets' `shard=`). Partition columns surface
  * as ordinary columns on every read here (partition discovery on
  * the root; `basePath` on file-subset reads), so including a
  * partition column in `cols` gives per-file stats rows whose
  * min = max = the partition value — file-level skipping then
  * SUBSUMES partition pruning and composes with in-file ranges on
  * other columns.
  *
  * The index is derived state: [[build]] is one aggregation over
  * the dataset grouped by `input_file_name()` (the bootstrap), and
  * [[updateFor]] keeps it fresh under appends by scanning only the
  * new files (files are immutable once written — the same
  * assumption every table format makes). The add/drop diff is a
  * pair of metadata-sized JOINS against the listing — never a
  * driver-built `isin` literal, which at millions of files would be
  * a million-literal Catalyst expression. `nulls_<c>` is recorded
  * for IS NULL-style pruning; range pruning needs only min/max.
  * Pruning is conservative:
  * a file is kept whenever its [min, max] interval CAN intersect the
  * predicate, and files with all-null stats columns are always kept
  * — false positives cost a scan, false negatives would cost
  * correctness, so there are none by construction (q155's oracle
  * proves it value-for-value: a wrongly pruned file would change
  * the aggregate).
  */
object StatsIndex {

  private def statsAggs(cols: Seq[String]): Seq[Column] =
    cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    }

  private def statsFor(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), statsAggs(cols): _*)

  /** Pad `stats` with a row for every listed file that contributed
    * no group: 0-row part files are a legitimate writer output (an
    * empty post-shuffle partition surviving into a union write), and
    * a stats table SILENT about a physical file would fail the
    * snapshot tier's coverage check — or worse, let a
    * touched/untouched split lose the file. Padded rows carry
    * n_rows = 0 and null min/max, which [[hitExpr]] already treats
    * as always-hit: an empty file is always a (zero-row) candidate,
    * never a loss. One metadata-sized anti-join per build.
    */
  private def padEmptyFiles(spark: SparkSession, stats: DataFrame,
                            files: Seq[String]): DataFrame = {
    val listing = spark.createDataset(files)(Encoders.STRING).toDF("__f")
    val missing = listing.join(stats,
      normPath(col("__f")) === normPath(stats("file")), "left_anti")
    val padded = missing.select(
      col("__f").as("file") +:
        stats.columns.toSeq.filter(_ != "file").map(c =>
          (if (c == "n_rows") lit(0L)
           else lit(null).cast(stats.schema(c).dataType)).as(c)): _*)
    stats.unionByName(padded)
  }

  private val SchemeRe = "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/+".r

  /** Scheme-insensitive path identity ("file:///x" ≡ "file:/x" ≡
    * "/x"): strip any URI scheme, keep the absolute path. The stats
    * side records `input_file_name()` URIs, Hadoop listings
    * `Path.toString`; every comparison between the two — on the
    * driver through this form, in a plan through the Column form
    * below — runs both sides through the SAME regex, so they compare
    * like with like.
    */
  private[graft] def normPath(s: String): String =
    SchemeRe.replaceFirstIn(s, "/")

  /** [[normPath]] as an in-plan expression. */
  private[graft] def normPath(c: Column): Column =
    regexp_replace(c, SchemeRe.regex, "/")

  /** Recursive data-file listing: every `.parquet` file under
    * `dataPath`, descending into partition dirs, skipping hidden
    * files and dirs by Spark's OWN visibility rule: `.`-prefixed, or
    * `_`-prefixed WITHOUT an `=` — a `_`-prefixed name containing
    * `=` is a legal partition dir (the engine's own sinks produce
    * `__bucket=`/`__batch=` layouts, and `spark.read` descends into
    * them), so treating it as hidden here would make this listing
    * disagree with what the scan reads and silently drop every
    * stats row in [[updateFor]]'s diff. Returns URI strings. The
    * list is the same driver-side object every parquet scan plans
    * with.
    */
  private[etl] def listDataFiles(spark: SparkSession, dataPath: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dataPath)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = f.getFileStatus(p).getPath.toUri.getPath
    val it = f.listFiles(p, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val rel = st.getPath.toUri.getPath.stripPrefix(rootPath)
        val hidden = rel.split('/').exists(c =>
          (c.startsWith("_") && !c.contains("=")) || c.startsWith("."))
        if (!hidden) buf += st.getPath.toUri.toString
      }
    }
    buf.toSeq.sorted
  }

  /** One stats row per file: (file, n_rows, min_<c>, max_<c>,
    * nulls_<c> per stats column). One scan of the dataset, one
    * shuffle keyed by file name (#files groups — metadata-sized).
    * Partition discovery makes partition columns legal stats
    * columns.
    */
  def build(spark: SparkSession, dataPath: String,
            cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one stats column")
    padEmptyFiles(spark, statsFor(spark.read.parquet(dataPath), cols),
      listDataFiles(spark, dataPath))
  }

  /** [[build]] over an explicit file list (the snapshot tier's
    * manifest versions have no single root dir to scan).
    */
  private[etl] def buildForFiles(spark: SparkSession, files: Seq[String],
                                 cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one stats column")
    require(files.nonEmpty, "need at least one file")
    padEmptyFiles(spark, statsFor(spark.read.parquet(files: _*), cols), files)
  }

  /** [[build]] COLLECTED (r17): one aggregation job over the data,
    * with the empty-file padding done on the collected rows against
    * the driver-side listing — the DataFrame-shaped [[padEmptyFiles]]
    * anti-join cost its own AQE stage jobs per build, for a join whose
    * both sides are file-count-sized metadata the driver already
    * holds. The snapshot tier consumes stats as collected rows anyway
    * ([[graft.etl.Snapshots]]'s localized stats snapshots), so this is
    * the collect it was already going to do, moved before the pad.
    */
  private[etl] def buildRows(spark: SparkSession, dataPath: String,
                             cols: Seq[String])
      : (org.apache.spark.sql.types.StructType,
         Array[org.apache.spark.sql.Row]) = {
    require(cols.nonEmpty, "need at least one stats column")
    padRows(statsFor(spark.read.parquet(dataPath), cols),
      listDataFiles(spark, dataPath))
  }

  /** [[buildRows]] over an explicit file list. */
  private[etl] def buildRowsForFiles(spark: SparkSession, files: Seq[String],
                                     cols: Seq[String])
      : (org.apache.spark.sql.types.StructType,
         Array[org.apache.spark.sql.Row]) = {
    require(cols.nonEmpty, "need at least one stats column")
    require(files.nonEmpty, "need at least one file")
    padRows(statsFor(spark.read.parquet(files: _*), cols), files)
  }

  /** Driver-side twin of [[padEmptyFiles]]: same normalization, same
    * padded-row shape (listing URI verbatim, n_rows = 0, null stats),
    * over the collected aggregate instead of a DataFrame anti-join.
    */
  private def padRows(agg: DataFrame, files: Seq[String])
      : (org.apache.spark.sql.types.StructType,
         Array[org.apache.spark.sql.Row]) = {
    val rows = agg.collect()
    val schema = agg.schema
    val have = rows.iterator.map(r => normPath(r.getString(0))).toSet
    val pad = files.filterNot(f => have(normPath(f))).map { f =>
      org.apache.spark.sql.Row.fromSeq(
        f +: schema.fields.toSeq.tail.map(sf =>
          if (sf.name == "n_rows") 0L else null))
    }
    (schema, rows ++ pad)
  }

  /** [[build]] + persist the stats table beside the data (the
    * "index commit"). Returns the stats path.
    */
  def buildAndSave(spark: SparkSession, dataPath: String,
                   cols: Seq[String], statsPath: String): String = {
    Load.writeAtomic(spark, build(spark, dataPath, cols), statsPath)
    statsPath
  }

  /** INCREMENTAL maintenance under appends: bring `stats` up to
    * date with `dataPath` by scanning ONLY the files the stats
    * table has no row for — one filesystem listing (metadata), a
    * scan of just the new files, and a union. The append-heavy
    * reality of a 100 TB ingest table: a day's batch adds a few
    * hundred files, and re-deriving stats for the other million
    * (what [[build]] does) would dwarf the batch itself. Files are
    * immutable once written (the same assumption every table format
    * makes), so existing rows never go stale; a file deleted by
    * compaction simply stops matching reads and its stats row is
    * dropped here — via a semi join against the listing frame, so
    * the plan stays metadata-sized at any file count.
    */
  def updateFor(spark: SparkSession, dataPath: String, stats: DataFrame,
                cols: Seq[String]): DataFrame = {
    val onDisk = listDataFiles(spark, dataPath)
    val onDiskDf = spark.createDataset(onDisk)(Encoders.STRING)
      .toDF("__disk_file")
      .select(col("__disk_file"), normPath(col("__disk_file")).as("__nf"))
    // survivors: files still on disk keep their stats rows verbatim
    val kept = stats.join(onDiskDf.select("__nf"),
      normPath(stats("file")) === col("__nf"), "left_semi")
    // fresh: on-disk files the stats table has no row for. The
    // collect is the fresh-path list the subset read needs — bounded
    // by the append batch in the steady state (the bootstrap case is
    // [[build]]'s full list, the object every scan plans with anyway)
    val fresh = onDiskDf.join(stats.select(normPath(col("file")).as("__nf")),
        Seq("__nf"), "left_anti")
      .select("__disk_file").collect().map(_.getString(0)).sorted
    if (fresh.isEmpty) kept
    else kept.unionByName(padEmptyFiles(spark, statsFor(
      spark.read.option("basePath", dataPath).parquet(fresh.toSeq: _*), cols),
      fresh.toSeq))
  }

  /** One column's can-intersect condition over its stats columns
    * (conservative: no-stats files always hit). Public so the
    * snapshot tier's copy-on-write writers ([[Snapshots.merge]] /
    * [[Snapshots.deleteRange]]) can split the SAME stats table into
    * touched/untouched halves with one expression — the complement
    * of the candidate set has to be computed against identical
    * semantics or a file could fall through both halves.
    */
  def hitExpr(c: String, lo: Option[Column], hi: Option[Column]): Column =
    canHit(c, lo, hi)

  private def canHit(c: String, lo: Option[Column], hi: Option[Column]): Column = {
    val noStats = col(s"min_$c").isNull || col(s"max_$c").isNull
    val hit = Seq(
      hi.map(h => col(s"min_$c") <= h),
      lo.map(l => col(s"max_$c") >= l)
    ).flatten.reduceOption(_ && _).getOrElse(lit(true))
    noStats || hit
  }

  /** The candidate file list for `lo <= c <= hi` (either bound
    * optional), decided from the stats table alone. The collect is
    * the file LIST — the same driver-side object every parquet scan
    * plans with; at millions of files this is exactly the metadata
    * a Delta driver holds, and the selective case (the point of the
    * index) collects far fewer.
    */
  def candidateFiles(stats: DataFrame, c: String,
                     lo: Option[Column], hi: Option[Column]): Seq[String] =
    candidateFilesMulti(stats, Seq((c, lo, hi)))

  /** Candidate files for a CONJUNCTION of range predicates — the
    * [[ZOrder]] payoff: every (col, lo, hi) prunes independently
    * from the same stats rows and the survivors are the
    * INTERSECTION, so a box predicate over a z-ordered layout opens
    * ~O(box volume) of the files where single-column clustering
    * prunes only its own dimension. One metadata filter, one
    * collect.
    */
  def candidateFilesMulti(stats: DataFrame,
                          preds: Seq[(String, Option[Column], Option[Column])])
      : Seq[String] = {
    require(preds.nonEmpty, "need at least one predicate")
    stats.filter(preds.map { case (c, lo, hi) => canHit(c, lo, hi) }
        .reduce(_ && _))
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /** Pruned read: open ONLY the candidate files, re-applying the
    * predicate (the stats decide which files to open, never which
    * rows qualify). `basePath` keeps partition columns alive on the
    * subset read. Returns the frame plus (files read, files total)
    * so callers can assert the prune actually bit.
    */
  def prunedRead(spark: SparkSession, dataPath: String, stats: DataFrame,
                 c: String, lo: Option[Column], hi: Option[Column])
      : (DataFrame, Int, Int) =
    prunedReadMulti(spark, dataPath, stats, Seq((c, lo, hi)))

  /** [[prunedRead]] for a conjunction of range predicates (see
    * [[candidateFilesMulti]]).
    */
  def prunedReadMulti(spark: SparkSession, dataPath: String, stats: DataFrame,
                      preds: Seq[(String, Option[Column], Option[Column])])
      : (DataFrame, Int, Int) = {
    val total = stats.select("file").count().toInt
    val files = candidateFilesMulti(stats, preds)
    val bounded = preds.flatMap { case (c, lo, hi) =>
      Seq(lo.map(l => col(c) >= l), hi.map(h => col(c) <= h)).flatten
    }.reduceOption(_ && _).getOrElse(lit(true))
    val df =
      if (files.isEmpty)
        // degenerate: no file can match — schema-preserving empty
        spark.read.parquet(dataPath).filter(lit(false))
      else spark.read.option("basePath", dataPath).parquet(files: _*)
        .filter(bounded)
    (df, files.size, total)
  }

  // --- per-file BLOOM index: point lookups on unclustered columns ---

  /** Per-file Bloom filter index over `c` — the skipping tier min/max
    * CANNOT provide: a point lookup (`WHERE id = x`) on a column the
    * layout is NOT clustered by sees every file's [min, max] span the
    * whole key space, so range stats prune nothing, while a per-file
    * Bloom filter prunes to ~the files that actually contain the key
    * (plus an fpp-bounded tail of false positives). This is Delta's
    * bloom-filter-index / Parquet's bloom pattern lifted to the same
    * ONE-metadata-scan planning model as [[build]]: one row per file,
    * `bloom_<c>` = the serialized sketch.
    *
    * The build reuses the engine's OWN insert path
    * ([[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
    * over `xxhash64(c)`, seed 42 — the exact pair
    * [[graft.operators.BloomPrune]] builds/probes with), grouped by
    * `input_file_name()`: one scan of the COLUMN (pruned to just `c`
    * by Parquet column pruning), one metadata-sized shuffle. Nulls
    * are inserted as the seed hash — a harmless false-positive
    * surface, never a false negative (probes are for non-null
    * values). `expectedItemsPerFile` sizes the per-file sketch
    * (~1.2 MB per 1M expected keys at 1% fpp); size it to the
    * layout's rows-per-file, not the table total.
    *
    * False positives cost ONE extra file open; false negatives are
    * impossible (every present key was inserted), so the pruned read
    * returns exactly the full scan's rows — which is what the q170
    * oracle replays value-for-value.
    */
  def buildBloom(spark: SparkSession, dataPath: String, c: String,
                 expectedItemsPerFile: Long = 1L << 16,
                 fpp: Double = 0.001): DataFrame = {
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    require(expectedItemsPerFile > 0 && fpp > 0 && fpp < 1)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItemsPerFile, fpp)
    val hashed = XxHash64(Seq(GraftShim.expression(col(c))), 42L)
    val agg = new BloomFilterAggregate(hashed,
      Literal(expectedItemsPerFile), Literal(numBits)).toAggregateExpression()
    spark.read.parquet(dataPath)
      .groupBy(input_file_name().as("file"))
      .agg(GraftShim.column(agg).as(s"bloom_$c"))
  }

  /** Candidate files for the point predicate `c = value`, decided by
    * min/max range stats AND the per-file Bloom probe. The probe runs
    * as a typed filter over the METADATA-sized (file, sketch) table —
    * executor-side deserialization of each file's sketch
    * (`BloomFilter.readFrom` — the same wire format
    * `BloomFilterMightContain` reads), never a pass over data. A file
    * missing from the bloom table (or carrying a null sketch) is kept
    * conservatively. Returns (bloom-pruned candidates, count of
    * files min/max alone would have opened).
    */
  def candidateFilesPoint(spark: SparkSession, stats: DataFrame,
                          bloom: DataFrame, c: String, value: Any)
      : (Seq[String], Int) = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    require(value != null, "point-lookup value must be non-null")
    // the driver-side hash must be the exact xxhash64(seed 42) the
    // build inserted — evaluate the same catalyst expression locally
    val hash = XxHash64(Seq(Literal.create(value)), 42L)
      .eval(null).asInstanceOf[Long]
    val mm = stats.filter(hitExpr(c, Some(lit(value)), Some(lit(value))))
      .select("file")
    val mmCount = mm.count().toInt
    val joined = mm.join(bloom.select(col("file"), col(s"bloom_$c").as("__bf")),
      Seq("file"), "left")
    import spark.implicits._
    val files = joined.select(col("file"), col("__bf"))
      .as[(String, Array[Byte])]
      .filter { case (_, bf) =>
        bf == null || org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bf))
          .mightContainLong(hash)
      }
      .map(_._1).collect().toSeq.sorted
    (files, mmCount)
  }

  /** Point-lookup read through min/max + Bloom: open ONLY the files
    * whose sketch might contain `value`, re-apply the predicate.
    * Returns (frame, files read, files min/max alone would read,
    * files total).
    */
  def prunedReadPoint(spark: SparkSession, dataPath: String, stats: DataFrame,
                      bloom: DataFrame, c: String, value: Any)
      : (DataFrame, Int, Int, Int) = {
    val total = stats.select("file").count().toInt
    val (files, mmCount) = candidateFilesPoint(spark, stats, bloom, c, value)
    val df =
      if (files.isEmpty) spark.read.parquet(dataPath).filter(lit(false))
      else spark.read.option("basePath", dataPath).parquet(files: _*)
        .filter(col(c) === lit(value))
    (df, files.size, mmCount, total)
  }
}
