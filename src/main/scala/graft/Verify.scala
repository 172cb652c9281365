package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // back-compat for the TIMESTAMP(NANOS) form of events.ts —
      // Spark 4 rejects it unless read as long (Tables.events
      // rebuilds the µs timestamp; current µs/NTZ data is unaffected).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only: regex filter to dump a subset while iterating on new
    // queries; the driver never sets it
    val filter = sys.env.get("SPARK_GRAFT_VERIFY_FILTER").map(_.r)
    SparkEntry.queries
      .filter { case (n, _) => filter.forall(_.findFirstIn(n).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // one flat object, query name -> SQL; the JSON writer escapes
    // every control char, so a tab or CR in the SQL cannot break the
    // json.load of the compare
    val mapper = graft.etl.VersionLog.mapper
    val json = mapper.createObjectNode()
    SparkEntry.oracleSql.foreach { case (k, v) => json.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      mapper.writeValueAsString(json))
    spark.stop()
  }
}
