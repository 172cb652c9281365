package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Thin bridge to the classic Column↔Expression converters and the
  * file-relation constructors, which are `private[sql]` at the Scala
  * level (public in bytecode). This is the standard extension-library
  * pattern (what table formats shipping their own FileIndex do) for
  * exposing custom Catalyst plumbing without a per-session function
  * registry round-trip.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The error an ANSI `Divide` throws on a zero divisor. */
  def divideByZeroError(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)

  private def cs(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** DataFrame over an arbitrary logical plan (classic Dataset.ofRows). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(cs(spark), plan)

  /** The session parser — for SQL helpers that rewrite the parsed
    * tree before analysis.
    */
  def parsePlan(spark: SparkSession, sqlText: String): LogicalPlan =
    cs(spark).sessionState.sqlParser.parsePlan(sqlText)

  /** A parquet scan plan over a CUSTOM [[FileIndex]] — the seam every
    * table format uses to own file listing/pruning while the built-in
    * `ParquetFileFormat` (vectorized reader, whole-stage codegen,
    * parquet filter pushdown) owns the bytes. `dataSchema` is the
    * authoritative schema (the snapshot tier's schema-in-the-log);
    * files missing a column surface it as NULL by parquet by-name
    * resolution.
    */
  def parquetScanPlan(spark: SparkSession, index: FileIndex,
                      dataSchema: StructType,
                      bucketSpec: Option[catalyst.catalog.BucketSpec] = None)
      : LogicalPlan = {
    val rel = HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = dataSchema,
      bucketSpec = bucketSpec,
      fileFormat = new ParquetFileFormat,
      options = Map.empty[String, String])(cs(spark))
    LogicalRelation(rel, isStreaming = false)
  }

  /** A parquet table over leaf files the caller listed itself, so
    * opening it runs no Spark job: the `InMemoryFileIndex` finds
    * `files` (the leaves under the qualified directory `root`) in its
    * `FileStatusCache` instead of listing, and Spark's own partition
    * inference still turns their `name=value` directories into
    * partition columns. `dataSchema` replaces schema inference and is
    * made nullable, as `spark.read.parquet` makes an inferred one.
    * A `refresh` clears the cache and lists `root` the Spark way.
    */
  def parquetTable(spark: SparkSession, root: Path, files: Seq[FileStatus],
                   dataSchema: StructType): DataFrame = {
    val cache = new FileStatusCache {
      @volatile private var leaves = Map(root -> files.toArray)
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = leaves.get(p)
      override def putLeafFiles(p: Path, fs: Array[FileStatus]): Unit = leaves += p -> fs
      override def invalidateAll(): Unit = leaves = Map.empty
    }
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, None, cache)
    val rel = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema.asNullable,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty[String, String])(cs(spark))
    ofRows(spark, LogicalRelation(rel, isStreaming = false))
  }

  /** The analyzed plan of a DataFrame (classic queryExecution). */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed
}
