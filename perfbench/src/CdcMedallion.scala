package perfbench

import graft.etl.Snapshots
import graft.plans.SnapshotSql
import graft.streaming.Ingest
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The snapshot tier under a stream of small statements: key-local
  * upserts of existing keys, merge-on-read deletes and appends of new
  * keys, then a change-feed apply that maintains a downstream table,
  * then optimize (every other cycle) and vacuum. Reads run between the
  * writes: stats-pruned range reads, SQL selects, change scans and
  * time-travel reads.
  *
  * Inputs: `cdc/schedule.tsv` — a header `init <rows> <files>` then
  * one statement per line, `<cycle> <kind> <args...>`. Statement rows
  * are a pure function of (key, salt), so the checker can replay the
  * log without the rows being stored.
  */
final class CdcMedallion(inputs: String) extends Workload {
  private val lines = Files.readAllLines(Paths.get(s"$inputs/cdc/schedule.tsv"))
    .asScala.filter(_.nonEmpty).map(_.split('\t').toIndexedSeq).toIndexedSeq
  private val Seq(initRows, initFiles) = lines.head.drop(1).map(_.toLong)
  private val byCycle: Map[Int, IndexedSeq[IndexedSeq[String]]] =
    lines.tail.groupBy(_.head.toInt)
  private val maxCycle = byCycle.keys.max

  private val Key = "o_orderkey"
  private var spark: SparkSession = _
  private var dir: String = _
  private var latest = 0L
  private var minRetained = 1L
  /** (statement line, version after it) — the replay's script. */
  private val log = mutable.ArrayBuffer.empty[Seq[Any]]
  private val cow = mutable.ArrayBuffer.empty[Seq[Long]]
  private val pruned = mutable.ArrayBuffer.empty[Seq[Long]]

  private def src = s"$dir/src"
  private def dst = s"$dir/dst"

  /** Statement rows for keys [lo, lo + n): every column derives from
    * (key, salt) by integer arithmetic the checker repeats in SQL.
    */
  private def rows(lo: Long, n: Long, salt: Long, parts: Int = 1): DataFrame = {
    val k = col("id")
    spark.range(lo, lo + n, 1, parts)
      .select(k.as(Key),
        ((k * 7919 + salt * 104729) % 150000 + 1).as("o_custkey"),
        element_at(array(lit("F"), lit("O"), lit("P")), ((k + salt) % 3 + 1).cast("int"))
          .as("o_status"),
        ((k * 48271 + salt * 69621) % 49999999 + 100).as("o_totalcents"),
        ((k + salt) % 2400).cast("int").as("o_shipday"),
        concat(lit("c"), ((k * 31 + salt) % 9973).cast("string")).as("o_comment"))
  }

  /** Count and column sums: the read result the checker replays. */
  private def digest(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum(col(Key)), sum("o_custkey"), sum("o_totalcents"),
      sum("o_shipday"), sum(length(col("o_comment")))).head()
    (0 until 6).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  private def range(lo: Long, hi: Long): Column = col(Key).between(lo, hi)

  def setup(s: SparkSession, d: String): Unit = {
    spark = s
    dir = d
  }

  /** The source table and the downstream table's bootstrap, once after
    * set-up.
    */
  override def prepare(): Unit = {
    latest = Snapshots.commitWithStats(spark,
      rows(1, initRows, 0, initFiles.toInt), src, Seq(Key))
    Ingest.snapshotCdcApplyAvailableNow(spark, src, s"$dir/chk", dst, Key, Seq(Key))
  }

  override def hasNext(c: Int): Boolean = c <= maxCycle

  def cycle(run: Run, c: Int): Unit = byCycle.getOrElse(c, Nil).foreach { st =>
    val t = run.tracer
    val a = st.drop(2)
    def num(i: Int) = a(i).toLong
    def wrote(v: Long): Unit = { latest = v; log += Seq("write", st.mkString("\t"), v) }
    def read(kind: String, v: Long, body: => Seq[Long]): Unit =
      run.op("read", 0)(body).foreach(d => log += Seq(kind, st.mkString("\t"), v, d))
    st(1) match {
      case "merge" =>
        run.op("write", num(2)) {
          t.span("etl.snapshots.merge")(
            Snapshots.merge(spark, rows(num(1), num(2), num(0)), src, Key, Seq(Key)))
        }.foreach { r =>
          cow += Seq(r.filesRewritten.toLong, r.filesTotal.toLong)
          wrote(r.version)
        }
      case "delete" =>
        run.op("write", num(1) - num(0) + 1) {
          t.span("etl.snapshots.delete")(Snapshots.deleteWhere(spark, src, range(num(0), num(1))))
        }.foreach(r => wrote(r.version))
      case "append" =>
        run.op("write", num(2)) {
          t.span("etl.snapshots.append")(
            Snapshots.append(spark, rows(num(1), num(2), num(0)), src, Seq(Key)))
        }.foreach(wrote)
      case "optimize" =>
        run.op("write", 0) {
          t.span("etl.snapshots.optimize")(
            Snapshots.optimize(spark, src, targetBytes = num(0), statsCols = Seq(Key)))
        }.foreach(r => wrote(r.version))
      case "vacuum" =>
        run.op("write", 0) {
          t.span("etl.snapshots.vacuum")(Snapshots.vacuum(spark, src, num(0).toInt))
        }.foreach { _ =>
          minRetained = math.max(minRetained, latest - num(0) + 1)
          log += Seq("vacuum", st.mkString("\t"), latest)
        }
      case "apply" =>
        run.op("batch", 0) {
          t.span("streaming.ingest")(
            Ingest.snapshotCdcApplyAvailableNow(spark, src, s"$dir/chk", dst, Key, Seq(Key)))
        }.foreach(_ => log += Seq("apply", st.mkString("\t"), latest))
      case "read_pruned" | "read_travel" =>
        // time travel: a retained version picked by the schedule's
        // fraction; the latest version otherwise
        val v = if (st(1) == "read_pruned") latest
          else minRetained + (a(2).toDouble * (latest - minRetained + 1)).toLong
        read(st(1), v, t.span("etl.snapshots.read") {
          val (df, nRead, nTotal) = Snapshots.readPruned(spark, src, Some(v), Key,
            Some(lit(num(0))), Some(lit(num(1))))
          pruned += Seq(nRead.toLong, nTotal.toLong)
          digest(df.filter(range(num(0), num(1))))
        })
      case "read_sql" =>
        read("read_sql", latest, t.span("plans.snapshot_sql") {
          digest(SnapshotSql.sql(spark,
            s"SELECT * FROM snap.`$src` WHERE $Key BETWEEN ${num(0)} AND ${num(1)}"))
        })
      case "read_changes" =>
        read("read_changes", latest, t.span("etl.snapshots.changes") {
          val ch = Snapshots.changes(spark, src, latest - 1, latest).df
          Seq("insert", "delete").flatMap(k => digest(ch.filter(col("_change_type") === k)))
        })
    }
  }

  def finish(run: Run): Map[String, Any] = {
    val live = (Snapshots.filesOfVersion(spark, src, latest) ++
      Snapshots.latestVersion(spark, dst).toSeq
        .flatMap(Snapshots.filesOfVersion(spark, dst, _)))
      .map(p => Files.size(Paths.get(new org.apache.hadoop.fs.Path(p).toUri.getPath))).sum
    Map(
      "log" -> log.toSeq,
      "cow" -> cow.toSeq,
      "pruned" -> pruned.toSeq,
      "src" -> digest(Snapshots.read(spark, src)),
      "dst" -> digest(Snapshots.read(spark, dst)),
      "latest" -> latest,
      "disk" -> Seq(Disk.usage(Seq(src, dst)).head, live))
  }

  def sizes: Map[String, Any] = Map(
    "initial_rows" -> initRows,
    "initial_files" -> initFiles,
    "cycles_scheduled" -> maxCycle,
    "statements_per_cycle" -> byCycle(1).size)
}
