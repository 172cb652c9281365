package perfbench

import graft.llm.{BarrierCache, Pq, SemDedup, Similarity}
import graft.queries.LlmQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import LlmCuration.QueryId0

/** LLM-data curation: each cycle takes one corpus shard through the
  * curation funnel (the q65 pipeline: quality rules, exact dedup,
  * Jaccard near-dup pairs and their connected components,
  * decontamination, mix and packing) and SemDeDup over the shard's
  * embeddings; then builds the shard's PQ index (a write) and runs
  * the shard's top-k query batches against it (reads).
  *
  * Inputs: `llm/manifest.tsv` — `shards <n> docs <n> vectors <n>
  * batches <n> batch <n> k <n>` — and per shard
  * `llm/shard_<i>/documents.parquet`, `embeddings.parquet` and
  * `queries_<j>.parquet`.
  */
final class LlmCuration(inputs: String) extends Workload {
  private val manifest: Map[String, Int] =
    Files.readAllLines(Paths.get(s"$inputs/llm/manifest.tsv")).asScala.head
      .split('\t').grouped(2).map(p => p(0) -> p(1).toInt).toMap
  private val shards = manifest("shards")
  private val batches = manifest("batches")
  private val batch = manifest("batch")
  private val k = manifest("k")
  private val pq = Pq.PqParams()

  private var spark: SparkSession = _
  private var dir: String = _
  private val passes = mutable.ArrayBuffer.empty[Seq[Any]]
  private val answers = mutable.LinkedHashMap.empty[(String, Int), Seq[Seq[Long]]]

  private def shardDir(s: String) = s"$inputs/llm/shard_$s"
  private def emb(s: String): DataFrame = spark.read.parquet(s"${shardDir(s)}/embeddings.parquet")
  private def queries(s: String, j: Int): DataFrame =
    spark.read.parquet(s"${shardDir(s)}/queries_$j.parquet")

  def setup(s: SparkSession, d: String): Unit = {
    spark = s
    dir = d
    passes.clear(); answers.clear()
  }

  def cycle(run: Run, c: Int): Unit = {
    val s = Math.floorMod(c - 1, shards).toString
    val t = run.tracer
    val rows = manifest("docs") + manifest("vectors")
    run.op("batch", rows) {
      val funnel = t.span("llm.dedup") {
        LlmQueries.queries("q65_curation_funnel")(spark, shardDir(s))
          .collect().toSeq.map(_.toSeq)
      }
      val semdups = t.span("llm.semdedup") {
        SemDedup.semanticDups(emb(s), "vec_id", "embedding", threshold = 0.95).count()
      }
      passes += Seq(s, funnel, semdups)
    }
    run.op("write", 0) {
      t.span("llm.pq") {
        val e = emb(s)
        val cents = Pq.trainCodebooks(e, "vec_id", "embedding", pq)
        cents.write.mode("overwrite").parquet(s"$dir/index/cents")
        Pq.encode(e, "vec_id", "embedding", cents, pq)
          .write.mode("overwrite").parquet(s"$dir/index/codes")
      }
    }
    for (j <- 0 until batches) run.op("read", 0) {
      t.span("llm.pq") {
        answers((s, j)) = Pq.indexTopK(spark.read.parquet(s"$dir/index/cents"),
            spark.read.parquet(s"$dir/index/codes"), emb(s), queries(s, j),
            "vec_id", "embedding", k, pq, excludeSelf = false)
          .select("query_id", "rnk", "cand_id").collect().toSeq
          .map(r => (0 until 3).map(r.getAs[Number](_).longValue))
      }
    }
    BarrierCache.sweep(spark)
  }

  /** Recall@k of every query batch against the exact top-k, in traced
    * runs (a per-layer figure); untraced runs report the answer counts.
    * The exact top-k runs once per shard over all its query batches.
    */
  def finish(run: Run): Map[String, Any] = {
    val exact: Map[String, Set[(Long, Long)]] =
      if (!run.tracer.enabled) Map.empty
      else answers.keys.map(_._1).toSeq.distinct.map { s =>
        val e = Similarity.bruteTopK(emb(s), spark.read.parquet(s"${shardDir(s)}/queries_*.parquet"),
            "vec_id", "embedding", k)
          .select("query_id", "cand_id").collect()
          .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
        BarrierCache.sweep(spark)
        s -> e
      }.toMap
    val recall = answers.toSeq.map { case ((s, j), got) =>
      val want = exact.getOrElse(s, Set.empty[(Long, Long)])
        .filter { case (q, _) => (q - QueryId0) / batch == j }
      Seq(s, j, got.count(a => want((a(0), a(2)))), want.size, got.size)
    }
    Map("passes" -> passes.toSeq, "recall" -> recall,
      "disk" -> Disk.usage(Seq(s"$dir/index")))
  }

  def sizes: Map[String, Any] = manifest
}

object LlmCuration {
  /** Query j of batch b has id QueryId0 + b * batch + j (see gen.py). */
  val QueryId0 = 1000000000L
}
