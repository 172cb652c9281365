package perfbench

import graft.etl.{Load, ParquetUpsertSink, Transform}
import graft.sources.FileSources.XlsxSheetSource
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The reference's own traffic: one POS workbook drop per cycle,
  * staged and ingested into the bucketed fact table and the
  * quarantine, then the star is refreshed and a dashboard reads it.
  * Drop 0 is loaded untimed as the table's history, so measured drops
  * upsert into a populated table and re-deliver some of its orders.
  *
  * Inputs (from the generator): `pos/manifest.tsv`, one line per
  * drop — name, order lines, workbook bytes, workbook files (one per
  * register, comma-separated).
  */
final class PosIngest(inputs: String) extends Workload {
  private val drops: IndexedSeq[(String, Long, Long, Seq[String])] =
    Files.readAllLines(Paths.get(s"$inputs/pos/manifest.tsv")).asScala
      .filter(_.nonEmpty).map { l =>
        val f = l.split('\t'); (f(0), f(1).toLong, f(2).toLong, f(3).split(',').toSeq)
      }.toIndexedSeq

  private var spark: SparkSession = _
  private var dir: String = _
  private var dim: DataFrame = _
  private val processed = mutable.ArrayBuffer.empty[Int]
  /** Last result of each dashboard read, by grouping column. */
  private val lastRead = mutable.LinkedHashMap.empty[String, Seq[Seq[Any]]]
  /** (bucket directories rewritten, bucket directories) per drop. */
  private val buckets = mutable.ArrayBuffer.empty[Seq[Int]]

  private def fact = s"$dir/fact"
  private def quarantine = s"$dir/quarantine"
  private def star(t: String) = s"$dir/star/$t"

  def setup(s: SparkSession, d: String): Unit = {
    spark = s
    dir = d
    processed.clear(); buckets.clear()
    Files.createDirectories(Paths.get(s"$dir/staging"))
    dim = Transform.dimDF(spark)
  }

  /** Drop 0 is the fact table's history, loaded once after set-up. */
  override def prepare(): Unit = {
    stage(0)
    ingest(new Tracer(false))
    processed += 0
    refreshStar()
  }

  private def stage(i: Int): Unit =
    drops(i)._4.foreach(f => Files.copy(Paths.get(s"$inputs/pos/$f"),
      Paths.get(s"$dir/staging/$f"), StandardCopyOption.REPLACE_EXISTING))

  private def ingest(t: Tracer): Unit =
    t.span("streaming.ingest") {
      Ingest.ingestBatch(spark, s"$dir/staging", XlsxSheetSource("Paid order list"),
        new ParquetUpsertSink(spark, fact), quarantine, dim,
        archiveDir = Some(s"$dir/archive"))
    }

  /** Traced runs only, outside the timed operations: parse the staged
    * drop and transform it once more, each step forced under its own
    * span. Inside `ingestBatch` both run lazily, pipelined into the
    * ingest's own jobs, so only this pass gives `sources.xlsx` and
    * `etl.transform` figures of their own. The transform runs on the
    * cached parse, and caches and counts its outputs as `ingestBatch`
    * does.
    */
  private def probe(t: Tracer): Unit = if (t.enabled) {
    val raw = t.span("sources.xlsx") {
      val r = XlsxSheetSource("Paid order list")
        .read(spark, s"$dir/staging", Ingest.rawSchema).cache()
      r.count()
      r
    }
    t.span("etl.transform") {
      val split = Transform.run(raw, dim)
      val parts = Seq(split.clean.cache(), split.quarantine.cache())
      parts.foreach(_.count())
      parts.foreach(_.unpersist())
    }
    raw.unpersist()
  }

  private def refreshStar(): Unit = {
    val s = Load.normalizeStar(Load.readTable(spark, fact))
    Load.writeAtomic(spark, s.fact, star("fact"))
    Load.writeAtomic(spark, s.dimItem, star("dim_item"))
    Load.writeAtomic(spark, s.dimPayment, star("dim_payment"))
    Load.writeAtomic(spark, s.dimOrderType, star("dim_order_type"))
  }

  override def hasNext(c: Int): Boolean = c < drops.size

  def cycle(run: Run, c: Int): Unit = {
    val t = run.tracer
    val before = bucketFiles()
    stage(c)
    probe(t)
    run.op("batch", drops(c)._2) {
      run.op("write", 0)(ingest(t)).foreach(_ => processed += c)
      t.span("etl.load")(refreshStar())
    }.foreach { _ =>
      val after = bucketFiles()
      buckets += Seq(after.count { case (b, fs) => !before.get(b).contains(fs) }, after.size)
    }
    // the dashboard, refreshed three times: revenue by item, payment type
    // and order type (nine reads, so their median is not one sample)
    for (_ <- 1 to 3; (dim, key) <- Seq("dim_item" -> "item_id",
        "dim_payment" -> "payment_type_id", "dim_order_type" -> "order_type_id"))
      run.op("read", 0) {
        t.span("etl.load") {
          val d = Load.readTable(spark, star(dim))
          lastRead(dim) = Load.readTable(spark, star("fact")).join(d, key)
            .groupBy(d.columns.filter(_ != key).map(col).toIndexedSeq: _*)
            .agg(count(lit(1)), sum("quantity"), sum("total_order_amount"))
            .collect().toSeq.map(_.toSeq)
        }
      }
  }

  /** File names of each bucket directory of the fact table. */
  private def bucketFiles(): Map[String, Set[String]] = {
    val d = Paths.get(fact)
    if (!Files.isDirectory(d)) Map.empty
    else {
      val dirs = Files.list(d)
      try dirs.iterator().asScala.filter(_.getFileName.toString.startsWith("__bucket=")).map { b =>
        val fs = Files.list(b)
        try b.getFileName.toString -> fs.iterator().asScala.map(_.getFileName.toString).toSet
        finally fs.close()
      }.toMap finally dirs.close()
    }
  }

  def finish(run: Run): Map[String, Any] = Map(
    "dir" -> dir,
    "buckets" -> buckets.toSeq,
    "drops" -> processed.map(drops(_)._1).toSeq,
    "read" -> lastRead,
    "disk" -> Disk.usage(Seq(fact, quarantine, s"$dir/star")))

  def sizes: Map[String, Any] = Map(
    "history_lines" -> drops.head._2,
    "measured_drops" -> (drops.size - 1),
    "workbooks_per_drop" -> drops(1)._4.size,
    "lines_per_drop" -> drops.tail.map(_._2).sum / (drops.size - 1),
    "bytes_per_drop" -> drops.tail.map(_._3).sum / (drops.size - 1))
}

/** On-disk byte counts for the space figure. */
object Disk {
  /** (all bytes, parquet data bytes) under the given directories. */
  def usage(dirs: Seq[String]): Seq[Long] = {
    val files = dirs.map(Paths.get(_)).filter(Files.exists(_)).flatMap { d =>
      val w = Files.walk(d)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toList finally w.close()
    }
    Seq(files.map(Files.size).sum,
      files.filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum)
  }
}
