package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.etl.StatsIndex

/** The snapshot tier's [[FileIndex]] — the seam that makes a
  * versioned table a first-class Spark SQL scan (what Delta's
  * TahoeFileIndex / Iceberg's SparkScan do): the planner asks THIS
  * object which files exist, and the answer is (a) the version's
  * manifest — never a directory listing of mutable state — filtered
  * by (b) the version's file-level stats index, evaluated against
  * the query's OWN pushed data filters at planning time. Data
  * skipping therefore happens for ANY predicate a user writes — SQL
  * or DataFrame — not just calls through the explicit
  * [[graft.etl.Snapshots.readPruned]] seam, and the bytes are still
  * read by the built-in vectorized parquet reader under whole-stage
  * codegen (the index only shortens the file list).
  *
  * Skipping semantics are [[StatsIndex]]'s, conservative by
  * construction: a file is dropped only when its [min, max] interval
  * PROVABLY excludes the predicate; untranslatable predicates,
  * missing stats rows, and null stats keep the file. The translation
  * below covers the pushed shapes Catalyst actually emits for range
  * and point predicates (comparisons, In/InSet, IsNull/IsNotNull,
  * And/Or); everything else degrades to "open it" — false positives
  * cost a scan, false negatives would cost correctness, so there are
  * none by construction.
  *
  * The stats evaluation is itself a Spark plan over the metadata
  * table (one tiny job per planning pass, the Delta data-skipping
  * shape) — never a driver loop over file entries, so it holds at a
  * million-file manifest.
  */
final class SnapshotFileIndex(
    spark: SparkSession,
    root: Path,
    fileStatuses: Seq[FileStatus],
    stats: Option[DataFrame],
    partCols: Seq[String] = Nil) extends FileIndex {

  /** (files kept, files total) of the most recent planning pass —
    * the prune pin specs and queries assert on.
    */
  @volatile var lastScan: Option[(Int, Int)] = None

  /** Files kept by PARTITION pruning alone in the most recent pass
    * (before any stats evaluation) — pins that the first-line prune
    * fired independently of the stats index.
    */
  @volatile var lastPartitionKept: Option[Int] = None

  private val statCols: Set[String] =
    stats.map(_.columns.toSeq.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_")
    }.toSet).getOrElse(Set.empty)

  /** Per-file partition values parsed ONCE from the
    * `__p_<col>=<v>` path segments the snapshot writers lay
    * partitioned data out under ([[graft.etl.Snapshots.partKey]] —
    * the single owner of the prefix contract). Only KNOWN values
    * enter the map: the Hive default marker is AMBIGUOUS (Spark
    * writes it for null AND for the empty string, and the hybrid
    * layout's files genuinely carry `''` in the column), so marker
    * segments — like files missing the segment entirely (a layout
    * written before the table was partitioned, or a racing
    * re-layout) — stay absent and their files are always KEPT:
    * pruning degrades, never breaks.
    */
  private val partValsByFile: Map[Path, Map[String, String]] =
    if (partCols.isEmpty) Map.empty
    else {
      val wanted = partCols.map(c => graft.etl.Snapshots.partKey(c) -> c).toMap
      fileStatuses.map { st =>
        val segs = st.getPath.toUri.getPath.split('/')
        val vals = segs.iterator.flatMap { seg =>
          val i = seg.indexOf('=')
          if (i <= 0) Iterator.empty
          else wanted.get(seg.take(i)).flatMap { c =>
            val raw = SnapshotFileIndex.unescapePath(seg.drop(i + 1))
            if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(c -> raw)
          }.iterator
        }.toMap
        st.getPath -> vals
      }.toMap
    }

  override def rootPaths: Seq[Path] = Seq(root)

  override def partitionSchema: StructType = new StructType()

  override def inputFiles: Array[String] =
    fileStatuses.map(_.getPath.toString).toArray

  /** Snapshot data is immutable — there is nothing to refresh. */
  override def refresh(): Unit = ()

  override def sizeInBytes: Long = fileStatuses.map(_.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // FIRST-LINE partition pruning: exact path-value checks, zero
    // stats-table work — the cheapest prune runs first, then the
    // stats index only evaluates over its survivors. The partition
    // column is a DATA column here (hybrid layout — the files carry
    // it), so the planner pushes its predicates in dataFilters.
    val afterPart =
      if (partCols.isEmpty || dataFilters.isEmpty) fileStatuses
      else {
        val checks = dataFilters.flatMap(
          SnapshotFileIndex.partCanHit(_, partCols.toSet))
        if (checks.isEmpty) fileStatuses
        else fileStatuses.filter { f =>
          val vals = partValsByFile.getOrElse(f.getPath, Map.empty)
          checks.forall(_(vals))
        }
      }
    if (partCols.nonEmpty) lastPartitionKept = Some(afterPart.size)
    val kept = stats match {
      case Some(st) if dataFilters.nonEmpty && statCols.nonEmpty =>
        val conds = dataFilters.flatMap(SnapshotFileIndex.canHit(_, statCols))
        if (conds.isEmpty) afterPart
        else {
          val hit = st.filter(conds.reduce(_ && _)).select("file")
            .collect().iterator
            .map(r => StatsIndex.normPath(r.getString(0))).toSet
          afterPart.filter(f =>
            hit.contains(StatsIndex.normPath(f.getPath.toString)))
        }
      case _ => afterPart
    }
    lastScan = Some((kept.size, fileStatuses.size))
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }
}

object SnapshotFileIndex {

  /** Spark's own partition-path unescaping — the exact inverse of
    * what the parquet writer applied to the `k=v` segment.
    */
  private[graft] def unescapePath(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** Types whose Cast-to-string rendering is EXACTLY the partition
    * path encoding Spark writes (PartitioningUtils builds the path
    * fragment from Cast(col, StringType)); a literal of any other
    * type (timestamps — zone/format sensitive; decimals, floats —
    * representation drift) translates to no check, so its files are
    * kept conservatively: a wrong prune would lose rows, a kept file
    * only costs a scan.
    */
  private val pathSafe: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(StringType, IntegerType, LongType, ShortType, ByteType,
      BooleanType, DateType)
  }

  /** Render a literal exactly as a partition path records it. */
  private def pathValue(l: Literal): Option[String] =
    if (l.value == null || !pathSafe.contains(l.dataType)) None
    else Option(org.apache.spark.sql.catalyst.expressions.Cast(
      l, org.apache.spark.sql.types.StringType, Some("UTC")).eval(null))
      .map(_.toString)

  private type PartVals = Map[String, String]

  /** Translate one pushed data filter into a per-file check over the
    * parsed partition values, or None when the shape is not provably
    * decidable from them (→ caller keeps every file). A file whose
    * inner map is MISSING the column — a pre-partitioning layout, a
    * racing re-layout, or the ambiguous null/'' default marker —
    * always passes: conservative by construction, like [[canHit]].
    * IsNull prunes files with a KNOWN value (the hybrid layout
    * guarantees every row in a `k=v` file carries exactly v, never
    * null); IsNotNull deliberately translates to nothing because the
    * default marker may hide non-null empty strings.
    */
  private[graft] def partCanHit(e: Expression,
                                partCols: Set[String]): Option[PartVals => Boolean] = {
    def name(x: Expression): Option[String] = x match {
      case a: Attribute if partCols(a.name) => Some(a.name)
      case _ => None
    }
    e match {
      case EqualTo(a, l: Literal) => for (c <- name(a); v <- pathValue(l))
        yield (vals: PartVals) => vals.get(c).forall(_ == v)
      case EqualTo(l: Literal, a) => partCanHit(EqualTo(a, l), partCols)
      case EqualNullSafe(a, l: Literal) if l.value != null =>
        partCanHit(EqualTo(a, l), partCols)
      case EqualNullSafe(l: Literal, a) if l.value != null =>
        partCanHit(EqualTo(a, l), partCols)
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        name(a).flatMap { c =>
          val rendered = vs.collect { case l: Literal => pathValue(l) }
          // any untranslatable member keeps everything (sound)
          if (rendered.exists(_.isEmpty)) None
          else {
            val set = rendered.flatten.toSet
            Some((vals: PartVals) => vals.get(c).forall(set))
          }
        }
      case InSet(a, hset) if hset.nonEmpty && hset.size <= 256 =>
        name(a).flatMap { c =>
          val rendered = hset.toSeq.filter(_ != null)
            .map(v => pathValue(Literal(v, a.dataType)))
          if (rendered.exists(_.isEmpty)) None
          else {
            val set = rendered.flatten.toSet
            Some((vals: PartVals) => vals.get(c).forall(set))
          }
        }
      case IsNull(a) => name(a).map(c => (vals: PartVals) =>
        !vals.contains(c))
      case And(l, r) =>
        (partCanHit(l, partCols), partCanHit(r, partCols)) match {
          case (Some(a), Some(b)) => Some(v => a(v) && b(v))
          case (a, b) => a.orElse(b)
        }
      case Or(l, r) => for {
        a <- partCanHit(l, partCols); b <- partCanHit(r, partCols)
      } yield (v: PartVals) => a(v) || b(v)
      case _ => None
    }
  }

  /** Translate one pushed data filter into a can-hit condition over
    * the stats table, or None when the shape is not provably
    * decidable from min/max/null counts (→ caller keeps every file).
    */
  private[graft] def canHit(e: Expression, statCols: Set[String]): Option[Column] = {
    def name(x: Expression): Option[String] = x match {
      case a: Attribute if statCols(a.name) => Some(a.name)
      case _ => None
    }
    def value(l: Literal): Option[Column] =
      if (l.value == null) None else Some(GraftShim.column(l))
    e match {
      case EqualTo(a, l: Literal) => for (c <- name(a); v <- value(l))
        yield StatsIndex.hitExpr(c, Some(v), Some(v))
      case EqualTo(l: Literal, a) => canHit(EqualTo(a, l), statCols)
      case EqualNullSafe(a, l: Literal) if l.value != null =>
        canHit(EqualTo(a, l), statCols)
      // strict bounds prune with their inclusive envelope — a file
      // whose max equals the excluded bound survives; sound, one
      // false-positive file at worst
      case GreaterThan(a, l: Literal) => for (c <- name(a); v <- value(l))
        yield StatsIndex.hitExpr(c, Some(v), None)
      case GreaterThanOrEqual(a, l: Literal) => for (c <- name(a); v <- value(l))
        yield StatsIndex.hitExpr(c, Some(v), None)
      case LessThan(a, l: Literal) => for (c <- name(a); v <- value(l))
        yield StatsIndex.hitExpr(c, None, Some(v))
      case LessThanOrEqual(a, l: Literal) => for (c <- name(a); v <- value(l))
        yield StatsIndex.hitExpr(c, None, Some(v))
      // mirrored operand order (lit op attr)
      case GreaterThan(l: Literal, a) => canHit(LessThan(a, l), statCols)
      case GreaterThanOrEqual(l: Literal, a) => canHit(LessThanOrEqual(a, l), statCols)
      case LessThan(l: Literal, a) => canHit(GreaterThan(a, l), statCols)
      case LessThanOrEqual(l: Literal, a) => canHit(GreaterThanOrEqual(a, l), statCols)
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        name(a).flatMap { c =>
          val hits = vs.collect { case l: Literal if l.value != null =>
            StatsIndex.hitExpr(c, Some(GraftShim.column(l)),
              Some(GraftShim.column(l)))
          }
          hits.reduceOption(_ || _)
        }
      case InSet(a, hset) if hset.nonEmpty && hset.size <= 256 =>
        name(a).flatMap { c =>
          val dt = a.dataType
          val hits = hset.toSeq.filter(_ != null).map { v =>
            val lc = GraftShim.column(Literal(v, dt))
            StatsIndex.hitExpr(c, Some(lc), Some(lc))
          }
          hits.reduceOption(_ || _)
        }
      case IsNull(a) => name(a).map(c =>
        col(s"nulls_$c").isNull || col(s"nulls_$c") > 0L)
      case IsNotNull(a) => name(a).map(c =>
        col(s"nulls_$c").isNull || col("n_rows").isNull ||
          col(s"nulls_$c") < col("n_rows"))
      case And(l, r) =>
        (canHit(l, statCols), canHit(r, statCols)) match {
          case (Some(a), Some(b)) => Some(a && b)
          case (a, b) => a.orElse(b)
        }
      case Or(l, r) => for {
        a <- canHit(l, statCols); b <- canHit(r, statCols)
      } yield a || b
      case _ => None
    }
  }
}
