package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark harness: a detail JSON line, then ONE compact headline
  * JSON line as the LAST stdout line.
  *
  * Methodology (per round-3 verdict):
  *   - warm every query once at sf0.001 so codegen/JIT cold-start is
  *     paid before timing;
  *   - then FULLY reset engine state (fact cache, barrier caches,
  *     catalog cache, an explicit GC breather) so the first timed
  *     query does not inherit warmup residue;
  *   - time each query 3x and report the per-query MEDIAN (steady
  *     state) plus the first run (cold: includes any shared-cache
  *     materialization that query triggers);
  *   - per-query gc_ms (JVM GC time during that query's 3 runs),
  *     storage_mb (cached-plan memory after it), and peak_heap_mb
  *     (max JVM heap-pool peak across the query's runs, peak-reset
  *     per run — the single-JVM stand-in for per-query peak executor
  *     memory) so a regression is attributable from the artifact
  *     alone: plan change shows in median-vs-cold, cache migration
  *     in storage_mb, memory pressure in gc_ms + peak_heap_mb.
  *
  * Output contract (the driver keeps only the last ~2000 chars of
  * the run's stdout and parses the trailing JSON line):
  *   - the headline line is printed LAST, after `spark.stop()`, so
  *     no shutdown logging lands after it;
  *   - it uses SHORT query keys ("q01".."qNN" — unique prefixes of
  *     the registered names) and %.3f values; if that still exceeds
  *     the window (query-count growth, many failures) it degrades
  *     stepwise — fewer decimals, then a capped errors list — until
  *     it fits;
  *   - full names + cold/gc/storage telemetry go on the preceding
  *     "detail" line (visible in full logs, not needed by the
  *     parser);
  *   - failed iterations are EXCLUDED from medians and the total
  *     (a fast-failing query must not deflate the headline); a query
  *     with zero successful runs reports null and is named in
  *     `errors`.
  *
  * Queries deliberately run in sorted order WITHOUT cache clearing
  * between them: shared materializations (POS fact, shingle index)
  * amortizing across queries is the designed behavior, and the cold
  * numbers show who paid for them.
  */
object Bench {
  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  /** Per-query peak heap: JVM heap memory-pool peak-usage counters,
    * reset before each timed run and read after it. In local[n] the
    * driver JVM IS every executor, so this is the honest stand-in
    * for per-query peak executor memory. Pools can appear/become
    * invalid across GC reconfigurations — re-list and guard each
    * call rather than caching the bean list.
    */
  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.isValid && p.getType == java.lang.management.MemoryType.HEAP)

  private def resetPeakHeap(): Unit =
    try heapPools.foreach(_.resetPeakUsage()) catch { case _: Exception => }

  private def peakHeapMb(): Double =
    try heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    catch { case _: Exception => Double.NaN }

  /** Locale-independent fixed-point rendering ("." decimal point on
    * every default locale); NaN → JSON null.
    */
  private def num(d: Double): String =
    if (d.isNaN) "null"
    else String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** Per-query stats behind the detail line; see [[detailLine]]. */
  private[graft] case class QStat(median: Double, cold: Double, gcMs: Long,
                                  storMb: Double, peakHeapMb: Double)

  /** Host-noise calibration sentinel: a FIXED data-independent
    * workload (64M-row range → xxhash64 → sum; pure codegen, one
    * 1-row aggregate, no IO, no caches) timed once at the start of
    * every pass and recorded in the detail line as `calib_sec`.
    * Identical code across rounds, so pass-level host drift — the
    * 39–55 s identical-code suite swings past rounds could only call
    * "probably noise" — is normalizable from the artifact alone:
    * divide a suspect pass's query times by that pass's sentinel
    * ratio before calling something a regression.
    */
  private[graft] def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64, pmod, lit}
    val t0 = System.nanoTime()
    // pmod keeps the summands < 2^20 so the 64M-row sum stays far
    // from long overflow (ANSI mode would fail the job, not wrap)
    spark.range(0, 64000000L, 1, 32)
      .select(sum(pmod(xxhash64(col("id")), lit(1048576L))))
      .head()
    (System.nanoTime() - t0) / 1e9
  }

  /** The full-telemetry detail JSON line, extracted pure so BenchSpec
    * can pin the extended contract: per-query median, cold,
    * cold_total, gc_ms, storage_mb (pass-1 cumulative-cache
    * snapshot), peak_heap_mb (max per-run heap-pool peak), and
    * calib_sec (the per-pass host-noise sentinel, one entry per
    * pass in pass order). This line precedes the headline and is NOT
    * length-constrained (the driver parses only the trailing
    * headline; this one is for regression attribution from full
    * logs).
    */
  private[graft] def detailLine(results: Seq[(String, QStat)],
                                coldTotal: Double, iters: Int,
                                sfDir: String,
                                calib: Seq[Double] = Nil): String = {
    def jmap(f: QStat => String) =
      results.map { case (k, s) => "\"" + k + "\":" + f(s) }.mkString("{", ",", "}")
    val calibJson = calib.map(num).mkString("[", ",", "]")
    s"""{"metric":"detail","median":${jmap(s => num(s.median))},"cold":${jmap(s => num(s.cold))},"cold_total":${num(coldTotal)},"gc_ms":${jmap(_.gcMs.toString)},"storage_mb":${jmap(s => num(s.storMb))},"peak_heap_mb":${jmap(s => num(s.peakHeapMb))},"calib_sec":$calibJson,"iters":$iters,"sf":"$sfDir"}"""
  }

  /** The driver-facing headline line, extracted pure so BenchSpec can
    * pin the output contract: the ladder degrades precision, then
    * caps the errors list, then — round-17 measurement fix: since
    * round 12 the full map has NOT fit (221 queries x ~11 chars >
    * the ~1900-char window), so every artifact since carried
    * `queries:{}` and the driver lost all per-query comparison —
    * keeps the MOST EXPENSIVE queries that fit (cost-descending
    * greedy fill, `queries_elided:K` for the cheap tail, which is
    * sub-second medians the 2-decimal rendering barely resolves
    * anyway; full precision for every query stays on the detail
    * line / BENCH_DETAIL.json). The totals-only form remains the
    * final bound.
    */
  private[graft] def headlineLine(total: Double,
                                  medians: Seq[(String, Double)],
                                  iters: Int,
                                  errs: Seq[String],
                                  sfDir: String,
                                  window: Int = 1850): String = {
    val shortKey = medians.map { case (k, _) => k -> k.takeWhile(_ != '_') }.toMap
    // duplicate short keys would silently drop a query from the
    // parsed artifact (JSON keeps the last key) — fail loudly instead
    require(shortKey.values.toSet.size == medians.size,
      s"non-unique short query keys: ${shortKey.values.groupBy(identity).collect { case (v, g) if g.size > 1 => v }}")
    def numAt(dec: Int)(d: Double): String =
      if (d.isNaN) "null"
      else String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(d))
    def errJson(cap: Int): String = {
      val sorted = errs.sorted
      val kept = sorted.take(cap).map("\"" + _ + "\"")
      val more = if (sorted.size > cap) Seq(s""""+${sorted.size - cap} more"""") else Nil
      (kept ++ more).mkString("[", ",", "]")
    }
    def headlineWith(dec: Int, errCap: Int) = {
      val qs = medians.map { case (k, v) => "\"" + shortKey(k) + "\":" + numAt(dec)(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${numAt(3)(total)},"unit":"sec","queries":$qs,"iters":$iters,"errors":${errJson(errCap)},"sf":"$sfDir"}"""
    }
    val totalsOnly =
      s"""{"metric":"total","value":${numAt(3)(total)},"unit":"sec","queries":{},"queries_elided":${medians.size},"iters":$iters,"errors":${errJson(0)},"sf":"$sfDir"}"""
    // partial map: greedily keep entries in cost-descending order
    // (NaN = failed sorts last; the errors list already names those)
    // until the window is full; by construction the result fits.
    def partial(dec: Int): String = {
      val byCost = medians.sortBy { case (_, v) => if (v.isNaN) 0.0 else -v }
      var budget = window - totalsOnly.length
      val kept = scala.collection.mutable.ArrayBuffer.empty[String]
      byCost.foreach { case (k, v) =>
        val entry = "\"" + shortKey(k) + "\":" + numAt(dec)(v)
        val cost = entry.length + (if (kept.isEmpty) 0 else 1)
        if (cost <= budget) { kept += entry; budget -= cost }
      }
      s"""{"metric":"total","value":${numAt(3)(total)},"unit":"sec","queries":${kept.mkString("{", ",", "}")},"queries_elided":${medians.size - kept.size},"iters":$iters,"errors":${errJson(0)},"sf":"$sfDir"}"""
    }
    Seq((3, Int.MaxValue), (2, Int.MaxValue), (2, 5), (1, 3), (0, 0))
      .map { case (dec, cap) => headlineWith(dec, cap) }
      .find(_.length <= window)
      .orElse(Some(partial(2)).filter(_.length <= window))
      .getOrElse(totalsOnly)
  }

  /** Persist the detail line to a file (default `BENCH_DETAIL.json`
    * in the working directory, overridable via
    * `SPARK_GRAFT_BENCH_DETAIL`). The driver keeps only the last
    * ~2000 chars of stdout, which round 8 proved truncates the detail
    * line exactly when it is needed (a regression cluster with the
    * attributing gc/heap telemetry cut off) — the checked-in file is
    * the durable copy; stdout remains the human-visible one.
    */
  private[graft] def writeDetail(path: java.nio.file.Path, line: String): Unit =
    java.nio.file.Files.write(path, (line + "\n").getBytes(
      java.nio.charset.StandardCharsets.UTF_8))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen paths: run every query once at the
    // smallest scale factor (identical plans -> identical generated
    // classes get JIT-compiled) so timed numbers reflect steady
    // state, not first-execution compilation.
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      val warmDir = "/root/testdata/sf0.001"
      if (warmDir != sfDir)
        (SparkEntry.queries ++ ServingBench.queries).values.foreach { fn =>
          try fn(spark, warmDir).count() catch { case _: Throwable => }
        }
    } catch { case _: Throwable => }
    // warm the sentinel's own codegen path so its pass-1 reading is
    // not JIT-cold (it measures the HOST, not compilation)
    try calibrate(spark) catch { case _: Throwable => }
    // Full state reset: warmup leaves one execution per query of
    // residue (fact cache, barrier caches, catalog cache, a grown
    // heap) that the first timed query would otherwise pay for.
    graft.queries.PosQueries.clearCache()
    graft.llm.BarrierCache.sweep(spark)
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(1000)
    System.gc()

    val errs = scala.collection.mutable.ListBuffer.empty[String]
    // dev-only: regex filter to time a subset (bisecting order-
    // dependent effects); the driver never sets it
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    // the bench surface = every registered query plus the
    // serving-only entries (persisted-state lifecycles timed at their
    // SERVE stage — ServingBench memoizes the build, so pass 1's cold
    // shows build+serve and the median is serving alone)
    val queries = (SparkEntry.queries ++ ServingBench.queries).toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(_.findFirstIn(n).isDefined) }
    // ROUND-ROBIN passes (q1..qN, repeated `iters` times), not
    // back-to-back iterations per query: a transient slow window on
    // the host (or a GC storm) then lands on DIFFERENT queries in
    // different passes and the per-query median rejects it, where
    // three consecutive runs would all absorb it. Pass 1 plays the
    // cold role (shared-cache materializations are paid in query
    // order, same as before); later passes are steady state.
    val runLog = scala.collection.mutable.Map.empty[String, Vector[(Boolean, Double)]]
      .withDefaultValue(Vector.empty)
    val gcLog = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val storLog = scala.collection.mutable.Map.empty[String, Double]
    val heapLog = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val calibLog = scala.collection.mutable.ArrayBuffer.empty[Double]
    var passOf = 0
    for (pass <- 1 to iters; (name, fn) <- queries) {
      if (pass != passOf) { // pass boundary: time the noise sentinel
        calibLog += calibrate(spark)
        passOf = pass
      }
      val gc0 = gcMillis()
      resetPeakHeap()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
            if (!errs.contains(name)) errs += name
            false
        }
      runLog(name) = runLog(name) :+ ((ok, (System.nanoTime() - t0) / 1e9))
      gcLog(name) += gcMillis() - gc0
      // max across passes: "the largest heap this query ever drove"
      heapLog(name) = math.max(heapLog(name), peakHeapMb())
      // pass-1 snapshot only: caches accumulate monotonically within
      // a run (BarrierCache sweeps on scope change, never mid-run),
      // so a later-pass snapshot would show every query the same
      // global footprint; after pass 1 the value still attributes
      // "cache growth up to and including this query"
      if (!storLog.contains(name)) storLog(name) = storageMb(spark)
    }
    val results = queries.map { case (name, _) =>
      val runs = runLog(name)
      val good = runs.collect { case (true, t) => t }.sorted
      val median = if (good.nonEmpty) good(good.size / 2) else Double.NaN
      val cold = if (runs.nonEmpty && runs.head._1) runs.head._2 else Double.NaN
      name -> QStat(median, cold, gcLog(name), storLog(name), heapLog(name))
    }
    val total = results.map(_._2.median).filterNot(_.isNaN).sum
    val coldTotal = results.map(_._2.cold).filterNot(_.isNaN).sum
    val detail = detailLine(results, coldTotal, iters, sfDir, calibLog.toSeq)
    // the driver reads only the last ~2000 chars of stdout and sbt
    // appends its own "[success] Total time ..." line (~80 chars)
    // after ours — headlineLine degrades stepwise (fewer decimals,
    // capped errors list, finally a totals-only line) rather than let
    // the artifact silently record `parsed: null` (round 4's failure
    // mode). Full-precision numbers and full error names stay on the
    // detail line / stderr.
    val headline = headlineLine(total,
      results.map { case (k, s) => k -> s.median }, iters, errs.toSeq, sfDir)
    try writeDetail(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")), detail)
    catch { case e: Exception =>
      System.err.println(s"[bench] detail file write failed: ${e.getMessage}") }
    spark.stop()
    println(detail)
    println(headline)
  }
}
