package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * on the same base as the epoch-millisecond times Spark stamps on
  * job events, so spans and jobs can be laid on one time line.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Client-side spans around calls into the engine's public functions.
  *
  * Disabled, a span is a plain call. Enabled, each span gets an id
  * that is published as the Spark local property `perfbench.span`
  * while it is open, so every job the call submits (on this thread,
  * on broadcast threads that capture local properties, or on a
  * streaming thread started inside the span) carries the id of the
  * innermost open span.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0
  private var sc: SparkContext = _
  /** Index of the closed-loop operation the open spans belong to. */
  var op: Int = -1

  def attach(context: SparkContext): Unit = sc = context

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, name, op, t0, t1)
      }
    }
}

object Tracer {
  val Prop = "perfbench.span"
}

final case class Span(id: Int, parent: Int, name: String, op: Int,
                      start: Double, end: Double)

/** Records every Spark job with its span id, call sites and task
  * totals. The call site of a job is the long form of its result
  * stage; jobs submitted off the client thread (broadcasts) carry no
  * engine frames there, so the call site of their SQL execution is
  * kept as well and the attribution picks whichever names a module.
  */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val start: Long, val span: String,
                  val execId: String, val site: String) {
    var end = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var bytesWritten = 0L
    var rowsWritten = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  val execSites = mutable.HashMap.empty[String, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).orNull
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val j = new Job(e.jobId, e.time, prop(Tracer.Prop),
      prop("spark.sql.execution.id"), site)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.bytesWritten += m.outputMetrics.bytesWritten
      j.rowsWritten += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSites(s.executionId.toString) = s.details
    }
    case _ =>
  }

  /** Block until every event posted before this call was delivered:
    * run a marker job and wait for its end event (the bus delivers a
    * queue's events in order).
    */
  def drain(sc: SparkContext): Unit = {
    sc.setLocalProperty(Tracer.Prop, "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Tracer.Prop, null)
    val deadline = System.currentTimeMillis() + 60000
    def done = synchronized(jobs.values.exists(j => j.span == "drain" && j.end > 0))
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
    require(done, "listener bus did not drain within 60 s")
  }
}
