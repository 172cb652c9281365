package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: one JVM-wide SparkSession (suites run in a
  * single forked JVM; getOrCreate reuses it).
  */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the library's shipped extensions, installed the way a user
    // installs them — SnapshotSqlSpec proves plain spark.sql sees
    // snapshot tables through the injected resolution rule
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def sf: String = TestSpark.sf

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Execute `df` and return (result row count, total rows emitted by
    * every join node in the executed plan, via SQLMetrics). The probe
    * the skew/pile-up tests use to assert a join layer stays linear:
    * a quadratic candidate explosion shows up in the join output
    * metric even when the final result is small.
    */
  def countWithJoinOutput(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val n = qe.toRdd.count() // drives THIS execution, populating its metrics
    val joinOut = flattenPlan(qe.executedPlan)
      .filter(_.nodeName.toLowerCase.contains("join"))
      .flatMap(_.metrics.get("numOutputRows").map(_.value))
      .sum
    (n, joinOut)
  }

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and reused exchanges.
    */
  def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }).flatMap(flattenPlan)
  }

  /** (result of `body`, Spark jobs `body` started on this thread). The
    * listener counts the jobs of a job group set for `body` alone; a
    * marker job in the same group, run after it, flushes the
    * asynchronous listener bus (one listener sees jobs in order).
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-during-${System.nanoTime}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "open", interruptOnCancel = false)
      val r = try body finally sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime < deadline) Thread.sleep(10)
      assert(seen.contains("marker"), "the listener never saw the marker job")
      (r, seen.size - 1)
    } finally sc.removeSparkListener(listener)
  }

  /** The executed plans of every query `body` runs, caught by a
    * QueryExecutionListener; a marker query run after `body` flushes
    * the asynchronous listener bus (events arrive in order).
    */
  def plansDuring(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val marker = s"plans_marker_${System.nanoTime}"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).selectExpr(s"'$marker' AS m").collect()
      def all = plans.toArray(Array.empty[SparkPlan]).toSeq
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!all.exists(_.toString.contains(marker)) && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(all.exists(_.toString.contains(marker)), "the listener never saw the marker query")
      all.filterNot(_.toString.contains(marker))
    } finally spark.listenerManager.unregister(listener)
  }
}
