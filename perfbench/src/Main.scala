package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

final case class Op(kind: String, ms: Double, rows: Long, cycle: Int)

/** One closed-loop client: each operation starts after the previous
  * one returned. Timings exclude the benchmark's own bookkeeping
  * (staging copies, result digests for the output checks).
  */
final class Run(val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  var cycle = 0
  var busyMs = 0.0
  var attempted = 0L
  /** Collection time inside top-level operations, ms. */
  var gcMs = 0L
  private var depth = 0

  /** Time one operation; an operation may nest inside another (a POS
    * batch contains its write). `rows` counts input rows and is given
    * only on top-level operations. A failure is recorded and yields
    * None.
    */
  def op[T](kind: String, rows: Long)(body: => T): Option[T] = {
    attempted += 1
    if (depth == 0) tracer.op = ops.size + failures.size
    depth += 1
    val gc0 = Run.gcMs()
    val start = System.nanoTime()
    val out =
      try Some(tracer.span("op." + kind)(body))
      catch {
        case NonFatal(e) =>
          failures += s"cycle $cycle $kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      } finally depth -= 1
    val ms = (System.nanoTime() - start) / 1e6
    if (out.isDefined) ops += Op(kind, ms, rows, cycle)
    if (depth == 0) {
      busyMs += ms
      gcMs += Run.gcMs() - gc0
    }
    out
  }
}

object Run {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after full collections. Spark frees broadcast and
    * cached blocks asynchronously once their owners are collected, so
    * collect and let that cleanup run until the heap stops shrinking.
    */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used() = { System.gc(); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    var last = used()
    var settled = false
    for (_ <- 1 to 10 if !settled) {
      Thread.sleep(100)
      val now = used()
      settled = last - now < 1.0
      last = now
    }
    last
  }
}

trait Workload {
  /** Build fresh engine-side state under `dir`; the session is new. */
  def setup(spark: SparkSession, dir: String): Unit
  /** Untimed preparation after the last set-up: the state the
    * measured cycles build on.
    */
  def prepare(): Unit = ()
  /** One cycle of the workload's repeating operation mix; cycles
    * count from 1.
    */
  def cycle(run: Run, c: Int): Unit
  /** False once the generated inputs are used up. */
  def hasNext(c: Int): Boolean = true
  /** Outputs for the checks, after the timed loop (untimed). */
  def finish(run: Run): Map[String, Any]
  /** Input rows and bytes per cycle, for the printed sizes. */
  def sizes: Map[String, Any]
}

object Main {
  final case class Args(workload: String, inputs: String, work: String,
                        seconds: Double, trace: Boolean, out: String, cores: Int)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 9

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("work"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("out"), m.getOrElse("cores", "2").toInt)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workloadOf(a: Args): Workload = a.workload match {
    case "pos_ingest" => new PosIngest(a.inputs)
    case "cdc_medallion" => new CdcMedallion(a.inputs)
    case "llm_curation" => new LlmCuration(a.inputs)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Bytes the engine wrote through the local Hadoop file system. */
  private def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
      .filter(_.getScheme == "file")
      .flatMap(s => Option(s.getLong("bytesWritten")).map(_.longValue))
      .sum

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workloadOf(a)
    val tracer = new Tracer(a.trace)

    // set-up, several times over fresh state; the last one is kept
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a)
      wl.setup(spark, s"${a.work}/state$i")
      setupS += (System.nanoTime() - t0) / 1e9
    }
    tracer.attach(spark.sparkContext)
    val p0 = System.nanoTime()
    wl.prepare()
    val prepareS = (System.nanoTime() - p0) / 1e9

    // Whole cycles run until the time is up, at least one.
    val recorder = new JobRecorder
    if (a.trace) spark.sparkContext.addSparkListener(recorder)
    val bytes0 = fsBytesWritten()
    val t0 = System.nanoTime()
    val run = new Run(tracer)
    var c = 1
    while (wl.hasNext(c) && (c == 1 || (System.nanoTime() - t0) / 1e9 < a.seconds)) {
      run.cycle = c
      wl.cycle(run, c)
      c += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val bytesWritten = fsBytesWritten() - bytes0
    val liveHeap = Run.liveHeapMb()
    if (a.trace) recorder.drain(spark.sparkContext)
    val out = wl.finish(run)

    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload,
      "setup_s" -> setupS.toSeq,
      "prepare_s" -> prepareS,
      "cycles" -> (c - 1),
      "wall_s" -> wallS,
      "busy_ms" -> run.busyMs,
      "attempted" -> run.attempted,
      "failures" -> run.failures.toSeq,
      "ops" -> run.ops.map(o => Seq(o.kind, o.ms, o.rows, o.cycle)).toSeq,
      "bytes_written" -> bytesWritten,
      "gc_ms" -> run.gcMs,
      "live_heap_mb" -> liveHeap,
      "sizes" -> wl.sizes,
      "out" -> out)
    if (a.trace) {
      res("spans") = tracer.spans.map(s =>
        Seq(s.id, s.parent, s.name, s.op, s.start, s.end)).toSeq
      res("jobs") = recorder.synchronized {
        recorder.jobs.values.takeWhile(_.span != "drain").map { j =>
          Seq(j.id, Option(j.span).getOrElse(""), j.start, j.end, j.site,
            Option(j.execId).flatMap(recorder.execSites.get).getOrElse(""),
            j.tasks, j.taskMs, j.shuffleBytes, j.spillBytes, j.bytesWritten,
            j.rowsWritten)
        }.toSeq
      }
    }
    Files.write(Paths.get(a.out), Json.render(res).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Minimal JSON rendering for the result file (maps, sequences,
  * strings, numbers, booleans, options).
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: scala.math.BigDecimal => n.bigDecimal.toPlainString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    b += '"'
    b.toString
  }
}

/** The build's class-archive training run: a Spark session that runs a
  * few of Spark's own operators (parquet write and read, cache,
  * aggregation, sort, join, window), none of the engine's. The classes
  * it loads are archived for the runs' JVMs (see run.py).
  */
object Warmup {
  def main(argv: Array[String]): Unit = {
    val spark = Main.session(Main.Args("warmup", "", argv(0), 0, trace = false, "", cores = 2))
    spark.range(0, 20000).selectExpr("id", "id % 97 AS k", "cast(id AS string) AS s")
      .write.parquet(s"${argv(0)}/t")
    val t = spark.read.parquet(s"${argv(0)}/t").cache()
    t.count()
    t.join(t.groupBy("k").count(), "k")
      .selectExpr("k", "s", "row_number() OVER (PARTITION BY k ORDER BY id) AS r")
      .groupBy("k").agg(org.apache.spark.sql.functions.max("r"))
      .orderBy("k").collect()
    spark.stop()
  }
}

/** Writes the DuckDB oracle SQL the output checks replay: the POS
  * pipeline mirror and the curation-funnel mirror.
  */
object Oracles {
  def main(argv: Array[String]): Unit = {
    val pos = graft.queries.PosQueries.oracles
    val llm = graft.queries.LlmQueries.oracles
    val sql = Map(
      "pos_quarantine" -> pos("q38_pos_quarantine"),
      "curation_funnel" -> llm("q65_curation_funnel"))
    Files.write(Paths.get(argv(0)), Json.render(sql).getBytes("UTF-8"))
  }
}
