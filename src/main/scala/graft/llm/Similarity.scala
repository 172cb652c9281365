package graft.llm

import graft.functions.{CellBook, CentroidMath, Centroids}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  * ANN pruning uses random-hyperplane LSH (Charikar 2002); the
  * multi-table bit-subset pool follows the standard LSH
  * amplification construction (Indyk-Motwani 1998).
  *
  * Numeric design: components are quantized to int64 at 1e-6
  * resolution before any arithmetic. Integer dot products are exact
  * and order-independent, so scores (and therefore top-k rankings)
  * are bit-identical across engines, partitionings, and retries —
  * no float-summation drift. The cosine itself is one IEEE division
  * at the end. Quantization error (~1e-6 relative) is far below any
  * meaningful similarity resolution.
  *
  * Scale design:
  *  - brute-force top-k broadcasts the (small) query set and scans
  *    the corpus once — the right baseline up to ~10⁶ candidates per
  *    executor-second;
  *  - the LSH path (random-hyperplane signatures, multi-table
  *    bucketed candidates, exact re-rank) prunes the scan for
  *    corpus×corpus or large-query workloads: candidates come from
  *    bucket equi-joins, never a cartesian product.
  *
  * These indexes, [[Pq]] and [[SemDedup]] share one set of
  * `private[llm]` kernels: [[qi]], [[hashSample]], [[bestCells]],
  * [[nearestCells]], [[cellMeans]], [[rerank]], [[topK]] and
  * [[bucketRows]]. Where a codebook is bounded metadata they assign
  * through the native nearest-centroid expressions of
  * [[graft.functions.Centroids]] instead of a cross join plus an
  * argmax aggregate: the nearest cell by cosine (the IVF corpus side,
  * SemDeDup's flat assignment and farthest-first init), a vector's
  * PQ codes, a query's ADC lookup table and a candidate's ADC sums,
  * each holding its driver-resident codebook as a constructor field.
  */
object Similarity {

  /** Quantize a float component to int64 at 1e-6 resolution. */
  private[llm] def qi(x: Column): Column =
    round(x.cast("double") * lit(1000000.0), 0).cast("long")

  /** Exact integer dot product of two quantized vectors — a native
    * codegen'd Expression (graft.functions.QDot); the HOF
    * formulation (`aggregate(zip_with(...))`) computes the identical
    * value but evaluates interpreted lambdas per element.
    */
  def qdot(a: Column, b: Column): Column = graft.functions.QVec.qdot64(a, b)

  /** Exact integer squared norm. */
  def qnorm2(a: Column): Column = graft.functions.QVec.qnorm2_64(a)

  /** Reference HOF formulation, kept for cross-checking the native
    * expression in tests.
    */
  def qdotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => qi(x) * qi(y)), lit(0L), (s, v) => s + v)

  /** Cosine similarity from exact integer parts (one IEEE division). */
  def cosine(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  /** Brute-force cosine top-k: broadcast the query set, scan the
    * corpus once, window-rank per query. Deterministic: scores are
    * exact, ties break on candidate id.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame = {
    val scored = candVecs(corpus, idCol, vecCol)
      .join(broadcast(queryVecs(queries, idCol, vecCol)), col("cand_id") =!= col("query_id"))
      .withColumn("cos", cosine(qdot(col("qv"), col("cv")), col("qn2"), col("cn2")))
    // barrier: the result is k rows per probe while the scan above
    // reads the whole corpus — the exact-top-k query and both ANN
    // twins (whose recall flags join against this exact frame) build
    // the identical plan, so one materialization serves all three.
    BarrierCache.track(topK(scored, k))
  }

  /** Corpus side of a scoring join: (cand_id, cv, cn2). */
  private def candVecs(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"), qnorm2(col(vecCol)).as("cn2"))

  /** Query side of a scoring join: (query_id, qv, qn2). */
  private def queryVecs(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"), qnorm2(col(vecCol)).as("qn2"))

  /** Exact re-rank input: the exact quantized cosine `cos` of every
    * (query_id, cand_id) candidate pair. The corpus vectors join on
    * cand_id first, then the broadcast query vectors on query_id.
    */
  private[llm] def rerank(pairs: DataFrame, corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String): DataFrame =
    pairs.join(candVecs(corpus, idCol, vecCol), Seq("cand_id"))
      .join(broadcast(queryVecs(queries, idCol, vecCol)), Seq("query_id"))
      .withColumn("cos", cosine(qdot(col("qv"), col("cv")), col("qn2"), col("cn2")))

  /** The top-k tail of every index: rank each query's scored
    * candidates by (cos desc, cand_id asc) and keep k as
    * (query_id, rnk, cand_id, cosine rounded to 6 places).
    */
  private[llm] def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("cand_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Random-hyperplane LSH signature: `nBits` sign bits of
    * hyperplane dot products. Planes are a deterministic seeded
    * pseudo-random matrix, shipped as literal arrays (tiny).
    */
  final case class RpLshParams(nBits: Int = 6, nTables: Int = 24, dim: Int = 64,
                               nBase: Int = 48, seed: Long = 42L) {
    private val rnd = new scala.util.Random(seed)
    /** base hyperplanes(bit)(component) ∈ {-1, +1} (Rademacher —
      * cheap and effective for cosine LSH). Tables draw their bits
      * from this shared pool, so the expensive projections are
      * computed once per row, not once per (table, bit).
      */
    val planes: Array[Array[Int]] =
      Array.fill(nBase, dim)(if (rnd.nextBoolean()) 1 else -1)
    /** tableBits(table) = which base bits form that table's bucket. */
    val tableBits: Array[Array[Int]] =
      Array.fill(nTables)(rnd.shuffle((0 until nBase).toList).take(nBits).toArray)
  }

  /** Add a per-table bucket-id array column: quantize once, project
    * onto the shared hyperplane pool once (materialized as a real
    * column — inlining the 48-projection expression into every
    * table-bit reference would duplicate it ~150x), then assemble
    * each table's bucket from its bit subset.
    */
  def withBuckets(df: DataFrame, vecCol: String, out: String,
                  p: RpLshParams): DataFrame = {
    // each base bit = sign of a native codegen'd quantized dot
    // against a ±1 hyperplane shipped as a literal float array
    // (sign(Σ qi(x)·(±1e6)) == sign of the ±1 projection)
    val baseBits = (0 until p.nBase).map { b =>
      val plane = array(p.planes(b).map(c => lit(c.toFloat)): _*)
      when(graft.functions.QVec.qdot64(col(vecCol), plane) > 0, lit(1L)).otherwise(0L)
    }
    val tableBuckets = (0 until p.nTables).map { t =>
      p.tableBits(t).zipWithIndex.map { case (b, j) =>
        element_at(col("__bits"), b + 1) * lit(1L << j)
      }.reduce(_ + _)
    }
    // cache barrier: CollapseProject would otherwise inline the
    // 48-projection __bits expression into all nTables*nBits
    // references (plan text grows to megabytes, eval cost x144).
    val based = BarrierCache.track(df.withColumn("__bits", array(baseBits: _*)))
    based.withColumn(out, array(tableBuckets: _*)).drop("__bits")
  }

  /** One (out, table, bucket) row per vector and LSH table. */
  private[llm] def bucketRows(df: DataFrame, idCol: String, vecCol: String,
                              out: String, p: RpLshParams): DataFrame =
    withBuckets(df, vecCol, "__bk", p)
      .select(col(idCol).as(out), posexplode(col("__bk")))
      .toDF(out, "table", "bucket")

  /** IVF-flat parameters: a FIXED-size codebook of `nCells` coarse
    * cells drawn as a deterministic uniform sample of corpus vectors
    * (the `nCells` smallest `xxhash64(id)` values — size-independent
    * of corpus rows, so the broadcast codebook and the O(N·nCells)
    * assignment cost stay bounded at any scale; a production
    * pipeline would train k-means offline and broadcast that
    * codebook instead). Queries probe the `nProbe` nearest cells.
    */
  final case class IvfParams(nCells: Int = 64, nProbe: Int = 8)

  /** Deterministic fixed-size codebook: the `nCells` corpus vectors
    * with the smallest seeded id-hash ([[hashSample]]).
    */
  def ivfCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                  nCells: Int): DataFrame =
    hashSample(corpus.select(col(idCol).as("cent_id"), col(vecCol).as("centv"),
        qnorm2(col(vecCol)).as("centn2")), "cent_id", nCells)
      .drop("__h")

  /** The `n` rows of `df` with the smallest `xxhash64(id)`, ties by
    * id — a deterministic uniform sample, independent of row order
    * and partitioning. Keeps the hash as `__h` for callers that rank
    * the sample. orderBy+limit plans as a distributed TakeOrdered
    * (per-partition top-n, merged) — no global sort materialization.
    */
  private[llm] def hashSample(df: DataFrame, id: String, n: Int): DataFrame =
    df.withColumn("__h", xxhash64(col(id))).orderBy("__h", id).limit(n)

  /** Nearest-cell argmax: per `key`, the `keep` cells with the
    * highest `score`, ties to the lowest `cell` id. keep = 1 is a
    * `max_by` hash aggregate (partial aggregation collapses the
    * key×cell rows map-side; the (score, −cell) struct reproduces
    * the (score desc, cell asc) order exactly, and `carry` columns
    * ride along as `first()`); keep > 1 is a window rank. Output:
    * (key, carry…, cell).
    */
  private[llm] def bestCells(scored: DataFrame, key: String, cell: String,
                             score: String, keep: Int = 1,
                             carry: Seq[String] = Nil): DataFrame =
    if (keep == 1) {
      val aggs = carry.map(c => first(col(c)).as(c)) :+
        expr(s"max_by($cell, struct($score, -$cell))").as(cell)
      scored.groupBy(key).agg(aggs.head, aggs.tail: _*)
    } else {
      val w = Window.partitionBy(key).orderBy(col(score).desc, col(cell))
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= keep)
        .select((key +: carry :+ cell).map(col): _*)
    }

  /** The IVF router: each row of `df`, as `outId`, to its `keep`
    * nearest cells of the codebook `cents` (cent_id, centv, centn2)
    * by exact-integer cosine, ties to the lowest cell. keep = 1 (a
    * corpus side) loads the fixed-size codebook to the driver in one
    * job and assigns with the nearest-cell kernel in one projection;
    * keep > 1 (the query probes) ranks the broadcast cross product
    * with [[bestCells]]' window. Output: (outId, cent_id). Ids are
    * unique in `df` (one row, one assignment).
    */
  private[llm] def nearestCells(df: DataFrame, idCol: String, vecCol: String,
                                cents: DataFrame, outId: String, keep: Int): DataFrame =
    if (keep == 1) {
      val book = CellBook(cents.select(col("cent_id").cast("long"), col("centv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq)
      df.select(col(idCol).as(outId),
        Centroids.nearestCell(col(vecCol), book).getField("id")
          .cast(cents.schema("cent_id").dataType).as("cent_id"))
    } else bestCells(
      df.select(col(idCol).as(outId), col(vecCol).as("v"), qnorm2(col(vecCol)).as("n2"))
        .crossJoin(broadcast(cents))
        .withColumn("sim", cosine(qdot(col("v"), col("centv")), col("n2"), col("centn2"))),
      outId, "cent_id", "sim", keep)

  /** The Lloyd update: each `keys` group's mean of the `dim`-wide
    * vector column `vec` — exact integer component sums of [[qi]],
    * one IEEE division per component. The collected sums are
    * (groups × dim) rows of bounded metadata, never corpus data.
    * Keyed by the group's `keys` values as a Row; an empty group
    * has no entry.
    */
  private[llm] def cellMeans(assigned: DataFrame, keys: Seq[String], vec: String,
                             dim: Int): Map[Row, Seq[Float]] = {
    val n = keys.size
    assigned
      .select(keys.map(col) :+ posexplode(col(vec)).as(Seq("pos", "x")): _*)
      .groupBy((keys :+ "pos").map(col): _*)
      .agg(sum(qi(col("x"))).as("sq"), count(lit(1)).as("n"))
      .collect()
      .groupBy(r => Row.fromSeq((0 until n).map(r.get)))
      .map { case (key, rows) =>
        val v = new Array[Float](dim)
        rows.foreach { r =>
          v(r.getInt(n)) = CentroidMath.mean(r.getLong(n + 1), r.getLong(n + 2))
        }
        key -> v.toSeq
      }
  }

  /** IVF-flat ANN top-k: assign every vector to its nearest sampled
    * centroid (broadcast codebook scan — the standard IVF build),
    * probe the query's nProbe nearest cells, exact re-rank within
    * probed cells. Cost per query ≈ (nProbe / nCells) of the corpus
    * instead of a full scan; recall grows with nProbe.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, p: IvfParams = IvfParams()): DataFrame = {
    val cents = ivfCodebook(corpus, idCol, vecCol, p.nCells)
    val pairs = nearestCells(queries, idCol, vecCol, cents, "query_id", p.nProbe)
      .join(nearestCells(corpus, idCol, vecCol, cents, "cand_id", 1), Seq("cent_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    topK(rerank(pairs, corpus, queries, idCol, vecCol), k)
  }

  /** LSH-pruned cosine top-k: candidates share ≥1 bucket in ≥1
    * table with the query; exact re-rank on the pruned set. Recall
    * < 1 by construction (tested against [[bruteTopK]]); cost scales
    * with bucket occupancy, not corpus size × query count.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, p: RpLshParams = RpLshParams()): DataFrame = {
    // candidate generation on ids only — shuffling 64-float vectors
    // through the bucket join dominates cost otherwise; vectors are
    // re-attached after pair dedup by the re-rank
    val pairs = bucketRows(corpus, idCol, vecCol, "cand_id", p)
      .join(broadcast(bucketRows(queries, idCol, vecCol, "query_id", p)), Seq("table", "bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id")
      .dropDuplicates("query_id", "cand_id")
    topK(rerank(pairs, corpus, queries, idCol, vecCol), k)
  }

  /** Symmetric per-vector int8 quantization: scale each vector by
    * 127/max|v_i| and round — the standard 4× memory shrink before
    * an ANN index is built (int8 dot products then run in SIMD
    * integer units; scores rescale by the two stored scales). Pure
    * per-row HOF projection: no shuffle, partition-parallel, exactly
    * what a 100 TB re-quantization pass needs. A zero vector (no
    * max) quantizes to all zeros. By construction every |q_i| ≤ 127
    * and the max |q_i| is exactly 127 for any nonzero vector — q66
    * emits those invariants as driver-checked columns.
    */
  def quantizeInt8(vec: Column): Column = {
    val maxAbs = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = lit(127.0) / maxAbs
    when(maxAbs > 0.0, transform(vec, x => round(x.cast("double") * scale).cast("int")))
      .otherwise(transform(vec, x => lit(0)))
  }
}
