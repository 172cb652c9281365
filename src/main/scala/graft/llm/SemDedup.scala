package graft.llm

import graft.functions.{CellBook, CentroidMath, Centroids}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster document embeddings with k-means, then
  * prune near-identical pairs WITHIN each cluster by cosine — the
  * shape that catches paraphrase duplicates the lexical family
  * (n-gram / MinHash / SimHash) misses, at a per-cluster quadratic
  * cost instead of an all-pairs one.
  *
  * Determinism: centroids init by deterministic farthest-first
  * traversal (hash-anchored first seed; or the single-pass IVF
  * codebook idiom via `initHash` at large k); Lloyd runs a FIXED
  * number of iterations; assignments order by exact-integer cosine with
  * centroid-id tie-break; centroid updates are exact integer
  * component sums with one IEEE division per component. Every step
  * is a pure function of the input set — bit-identical across
  * partitionings, retries, and engines.
  *
  * Scale: the codebook is k rows of bounded metadata (it is ALREADY
  * driver-resident every Lloyd update via the integer component-sum
  * collect), so at or below `routeAbove` centroids the flat
  * assignment and the farthest-first seeding hand it to the
  * nearest-cell expression ([[graft.functions.Centroids]]) as a
  * constructor field: one projection per pass, no cross join and no
  * argmax shuffle. With [[semanticDups]]'s occupancy-targeted k ≈ N/512,
  * a flat assignment scan would be n·k = n²/512 dot products per
  * iteration against an O(k·dim) broadcast — quadratic. Assignment
  * therefore goes TWO-LEVEL above `routeAbove` centroids (the IVF
  * coarse-quantizer shape, Jégou et al. 2011): a √k-row coarse
  * codebook (hash-anchored subset of the fine centroids) routes each
  * row with n·√k dots, then the exact argmax runs over only the
  * routed cell's fine centroids via an equi-join on the coarse cell
  * id — ~2·n·√k dots per iteration total, and the only broadcast is
  * the √k coarse table; the k-row fine codebook is equi-joined, so
  * no per-task O(k·dim) bytes. Each coarse anchor is pinned to its
  * own cell, so every routable cell is non-empty and the inner join
  * can never drop a corpus row. The centroid update stays a
  * (cluster, component) hash aggregate whose k·dim-long result is
  * bounded driver metadata. The within-cluster pair join is an
  * equi-join on cluster id; k ≈ N/targetCell keeps Σ|cluster|² at
  * ~N·targetCell — linear in corpus rows — the documented SemDeDup
  * trade. At 100 TB nothing in the shape changes.
  *
  * Ids are unique in [[kmeansAssign]] and [[semanticDups]], as in
  * [[Packing.packShards]]: each row is assigned on its own, where an
  * aggregate by id would merge rows that share one.
  */
object SemDedup {

  /** A centroid on the driver: (id, vector, exact squared norm). */
  private type Cent = (Long, Seq[Float], Long)

  /** Per corpus row of `rows` (`__id`, carrying `__v`, `__n2`), the
    * `cell` whose vector `cv` (squared norm `cn2`) has the highest
    * exact-integer cosine, ties to the lowest cell id
    * ([[Similarity.bestCells]]).
    */
  private def nearestOf(rows: DataFrame, cell: String, cv: String, cn2: String): DataFrame =
    Similarity.bestCells(
      rows.withColumn("sim", Similarity.cosine(Similarity.qdot(col("__v"), col(cv)),
        col("__n2"), col(cn2))),
      "__id", cell, "sim", carry = Seq("__v", "__n2"))

  /** One FLAT assignment pass: each row's nearest centroid by
    * exact-integer cosine, ties to the lowest cent_id — the
    * nearest-cell kernel over the driver-resident codebook in one
    * projection (no cross join, no argmax shuffle). Right at small k;
    * [[nearestRouted]] takes over above `routeAbove` where n·k turns
    * quadratic.
    */
  private def nearest(corpusQ: DataFrame, cents: Seq[Cent]): DataFrame =
    corpusQ.withColumn("cluster",
      Centroids.nearestCell(col("__v"), CellBook(cents.map(c => (c._1, c._2)))).getField("id"))

  /** TWO-LEVEL assignment (IVF coarse-quantizer routing): pick
    * ⌈√k⌉ coarse anchors from the fine codebook by smallest
    * id-hash (deterministic, data-independent of row order); route
    * every fine centroid AND every corpus row to its nearest coarse
    * anchor (same exact-integer cosine + lowest-coarse_id tie-break
    * on both sides); then the exact argmax runs only over the fine
    * centroids that routed to the row's coarse cell. Costs
    * k·√k + n·√k routing dots plus n·E[|cell|] ≈ n·√k refine dots.
    *
    * Anchor pinning: each anchor is forced into its own cell
    * (coalesce over the routed argmax). Without it, a colinear
    * anchor pair could strand one cell empty of fine centroids under
    * IEEE tie noise while a corpus row still routes there — the
    * refine inner-join would silently DROP that row. With pinning,
    * every cell in the coarse table owns ≥1 fine centroid, so the
    * join is total on corpus rows.
    *
    * Approximation contract: rows whose true nearest fine centroid
    * lives outside their routed coarse cell may assign to a
    * second-best centroid — the standard IVF recall trade, harmless
    * for the dedup contract because IDENTICAL embeddings see
    * identical sims and tie-breaks at every level and therefore
    * always co-route and co-assign.
    */
  private[llm] def nearestRouted(corpusQ: DataFrame, cents: DataFrame, k: Int): DataFrame = {
    val coarseK = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse = broadcast(Similarity.hashSample(cents, "cent_id", coarseK)
      .withColumn("coarse_id",
        row_number().over(Window.orderBy("__h", "cent_id")).cast("long"))
      .select(col("coarse_id"), col("cent_id").as("anchor_id"),
        col("centv").as("cv"), col("centn2").as("cn2")))
    // route the k fine centroids (k·√k dots, bounded), pin anchors
    val fineRouted = Similarity.bestCells(
        cents.crossJoin(coarse.select("coarse_id", "cv", "cn2"))
          .withColumn("csim",
            Similarity.cosine(Similarity.qdot(col("centv"), col("cv")),
              col("centn2"), col("cn2"))),
        "cent_id", "coarse_id", "csim", carry = Seq("centv", "centn2"))
      .join(coarse.select(col("anchor_id").as("cent_id"),
        col("coarse_id").as("own")), Seq("cent_id"), "left")
      .select(coalesce(col("own"), col("coarse_id")).as("coarse_id"),
        col("cent_id"), col("centv"), col("centn2"))
    // route the corpus (n·√k dots against the √k-row broadcast)
    val corpusRouted = nearestOf(corpusQ.crossJoin(coarse.select("coarse_id", "cv", "cn2")),
      "coarse_id", "cv", "cn2")
    // exact argmax within the routed cell — equi-join, NOT broadcast:
    // at extreme k the fine codebook shuffles by coarse_id instead of
    // shipping O(k·dim) bytes to every task (AQE may still choose a
    // broadcast when the codebook is small — that is the right call
    // there, and it is the optimizer's to make)
    nearestOf(corpusRouted.join(fineRouted, Seq("coarse_id")), "cent_id", "centv", "centn2")
      .withColumnRenamed("cent_id", "cluster")
  }

  private def assignPass(corpusQ: DataFrame, cents: Seq[Cent], k: Int,
                         routeAbove: Int): DataFrame =
    if (k > routeAbove) {
      val spark = corpusQ.sparkSession
      import spark.implicits._
      nearestRouted(corpusQ, cents.toDF("cent_id", "centv", "centn2"), k)
    } else nearest(corpusQ, cents)

  /** Deterministic farthest-first seeding (Gonzalez 1985): seed 1 is
    * the smallest id-hash; each next seed is the point with the
    * LOWEST best-cosine to the chosen seeds (ties to the lowest id)
    * — one job per seed: the nearest-cell kernel's best cosine of
    * every unchosen row against the driver-resident seeds, and a
    * TakeOrdered of the farthest, so well-separated groups each get a
    * seed and Lloyd cannot start from a one-group degenerate
    * codebook. k seeds of driver metadata; an empty corpus has none.
    */
  private def farthestInit(corpusQ: DataFrame, k: Int): Seq[Cent] = {
    val spark = corpusQ.sparkSession
    import spark.implicits._
    def take(df: DataFrame): Array[Cent] =
      df.select(col("__id"), col("__v"), col("__n2")).as[Cent].collect()
    val seeds = scala.collection.mutable.ArrayBuffer.from(
      take(Similarity.hashSample(corpusQ, "__id", 1)))
    while (seeds.nonEmpty && seeds.size < k) {
      val book = CellBook(seeds.toSeq.map(c => (c._1, c._2)))
      val next = take(corpusQ.filter(!col("__id").isin(seeds.map(_._1).toSeq: _*))
        .withColumn("best", Centroids.nearestCell(col("__v"), book).getField("sim"))
        .orderBy(col("best").asc, col("__id").asc).limit(1))
      if (next.isEmpty) return seeds.toSeq // corpus smaller than k
      seeds += next.head
    }
    seeds.toSeq
  }

  /** Deterministic fixed-iteration Lloyd k-means over an embedding
    * column. Returns (idCol, cluster). Init is farthest-first by
    * default (k bounded scans — robust seed spread); `initHash`
    * switches to the single-pass smallest-id-hash codebook idiom
    * ([[Similarity.ivfCodebook]]) for large k, trading seed quality
    * for one scan. Empty cells simply drop out (no re-seeding —
    * determinism over cluster-count vanity). Assignment switches to
    * two-level coarse-quantizer routing ([[nearestRouted]]) above
    * `routeAbove` centroids, keeping the per-iteration cost ~n·√k
    * instead of n·k.
    */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int = 8, iters: Int = 3, initHash: Boolean = false,
                   routeAbove: Int = 32): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // quantized working set feeds every init/assignment scan —
    // barrier-cache it
    val corpusQ = BarrierCache.track(
      corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        Similarity.qnorm2(col(vecCol)).as("__n2")))
    // the init codebook collects to the driver either way — k·dim of
    // bounded metadata, the same budget the Lloyd update already
    // spends — so every later use (flat kernel, coarse anchor pick,
    // fine routing, refine join) replays driver data, not a corpus
    // scan
    val init: Seq[Cent] =
      if (initHash)
        Similarity.hashSample(corpusQ, "__id", k)
          .withColumn("cent_id",
            row_number().over(Window.orderBy("__h", "__id")).cast("long"))
          .select(col("cent_id"), col("__v"), col("__n2"))
          .as[Cent].collect().toSeq
      else
        farthestInit(corpusQ, k).zipWithIndex
          .map { case ((_, v, n2), i) => (i + 1L, v, n2) }
    require(init.nonEmpty, "kmeansAssign: the corpus is empty, so there is nothing to cluster")
    // the first seed's width is the dimension: no probe job of its own
    val dim = init.head._2.size
    var cents = init
    for (_ <- 1 to iters) {
      cents = Similarity.cellMeans(assignPass(corpusQ, cents, k, routeAbove),
          Seq("cluster"), "__v", dim)
        .toSeq.map { case (key, v) =>
          (key.getLong(0), v, CentroidMath.norm2(CentroidMath.quantize(v)))
        }.sortBy(_._1)
    }
    assignPass(corpusQ, cents, k, routeAbove)
      .select(col("__id").as(idCol), col("cluster"))
  }

  /** The SemDeDup prune: within-cluster pairs with cosine ≥
    * `threshold`, keep-lowest-id rule. Output (id_keep, id_drop,
    * qdot, n2_i, n2_j) — id_drop is the semantic duplicate to
    * remove, and the score is the EXACT INTEGER cosine triple
    * (quantized dot and squared norms), not a rounded double:
    * round(cos, 6) on a double is the Spark-vs-DuckDB shortest-
    * decimal/binary midpoint divergence [[ExactRound]] exists to
    * kill, and the integer triple replays bit-identically in any
    * engine (cosine = qdot / √(n2_i·n2_j) when a reader wants the
    * scalar).
    *
    * Occupancy-targeted cluster count (the RP-LSH nBits idiom,
    * [[Dedup.embeddingNearDups]]): a FIXED k makes cells grow
    * linearly with the corpus and the within-cell verify quadratic
    * (measured: the n²/2k pair count dominated the sf1 wall). With
    * k ≈ n/targetCell the verify cost pins at ~n·targetCell/2 —
    * linear in corpus rows — and assignment is the two-level routed
    * scan (~n·√k dots per iteration, √k-row broadcast). Output-
    * invariant for the dedup contract: identical embeddings see
    * identical centroid cosines and tie-breaks at ANY k, so true
    * copies always co-assign; near-miss recall vs k is the
    * documented SemDeDup trade (Abbas et al. §3: larger k = finer
    * cells = cheaper + slightly lossier). Large auto-k switches to
    * the single-pass hash init — farthest-first's k sequential
    * scans are the right price only at small k.
    */
  def semanticDups(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, k: Int = 8, iters: Int = 3,
                   targetCell: Int = 512, routeAbove: Int = 32,
                   initHash: Option[Boolean] = None): DataFrame = {
    val n = corpus.count()
    val kEff = math.max(k, ((n + targetCell - 1) / targetCell).toInt)
    // init default: farthest-first below k=16 (seed quality), the
    // single-pass hash codebook above (farthest-first is k sequential
    // scans). Callers that run the pipeline TWICE in one plan for a
    // self-comparison (q136) override to hash init at any k — the
    // comparison needs identical seeding on both arms, not maximal
    // seed spread, and the override halves the init's job count.
    val assign = kmeansAssign(corpus, idCol, vecCol, kEff, iters,
      initHash = initHash.getOrElse(kEff > 16), routeAbove = routeAbove)
    val side = BarrierCache.track(
      corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
          Similarity.qnorm2(col(vecCol)).as("__n2"))
        .join(assign.select(col(idCol).as("__id"), col("cluster")), Seq("__id")))
    val i = side.select(col("cluster"), col("__id").as("id_keep"),
      col("__v").as("vi"), col("__n2").as("ni"))
    val j = side.select(col("cluster"), col("__id").as("id_drop"),
      col("__v").as("vj"), col("__n2").as("nj"))
    // equi-join on cluster — the cartesian stays inside each cell
    i.join(j, Seq("cluster"))
      .filter(col("id_keep") < col("id_drop"))
      .withColumn("qdot", Similarity.qdot(col("vi"), col("vj")))
      .withColumn("cos",
        Similarity.cosine(col("qdot"), col("ni"), col("nj")))
      .filter(col("cos") >= threshold)
      .select(col("id_keep"), col("id_drop"), col("qdot"),
        col("ni").as("n2_i"), col("nj").as("n2_j"))
  }
}
