package graft.llm

import graft.functions.{CentroidMath, Centroids, PqBook}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN — the PQ/ADC construction of Jégou,
  * Douze & Schmid, "Product quantization for nearest neighbor
  * search" (TPAMI 2011), with the optional IVF coarse stage making
  * it the paper's IVFADC variant. This is the canonical 100 TB-scale
  * ANN index shape (FAISS's default family): vectors compress
  * `m`-fold+ into per-subspace centroid codes, and query scoring
  * reads the `m`-byte codes plus a tiny per-query lookup table
  * instead of the raw float vectors — the scan becomes
  * memory-bandwidth-bound on a 32×-smaller index.
  *
  * Relationship to the rest of the A10 family: [[Similarity.bruteTopK]]
  * is the exact baseline, [[Similarity.lshTopK]]/[[Similarity.ivfTopK]]
  * prune WHICH candidates are scored; PQ additionally compresses HOW
  * each candidate is scored. The three compose (IVF routing here is
  * the same sampled-codebook idiom as [[Similarity.ivfCodebook]]).
  *
  * Determinism: all training/encode arithmetic runs on 1e-6-quantized
  * int64 components ([[Similarity.qdot]]/qnorm2 — exact,
  * order-independent sums); k-means init is the smallest-id-hash
  * sample idiom; Lloyd runs FIXED iterations; assignment argmins
  * break ties to the lowest code id; empty cells keep their previous
  * centroid. Every stage is a pure function of the input set —
  * bit-identical across partitionings and retries, which is what
  * lets q138 carry driver-checked recall flags.
  *
  * Scale design:
  *  - codebooks are bounded metadata (m·ksub·dsub ≈ 1k floats):
  *    trained on a deterministic hash-sample of ≤ `trainRows`
  *    vectors (the standard PQ practice — FAISS trains on a slice),
  *    collected in one job; init and the fixed Lloyd rounds then run
  *    on the driver with the same integer sums and single division
  *    as [[Similarity.cellMeans]];
  *  - every later use loads the codebook to the driver once and hands
  *    it to a native kernel as a constructor field
  *    ([[graft.functions.Centroids]]): encode is one projection (the
  *    m per-subspace argmins of each row, no shuffle), and a query's
  *    m·ksub lookup table is one projection of the broadcast query
  *    set;
  *  - ADC scoring pairs each candidate's codes with each broadcast
  *    query table and sums m lookups per pair in the same projection
  *    (no exploded code rows, no (query, candidate) aggregate); the
  *    per-query shortlist window is the scoring's one exchange;
  *  - with `coarse` set, only the probed cells' candidates are
  *    scored (candidate cost ∝ nProbe/nCells of the corpus);
  *  - the exact re-rank touches raw vectors for a per-query budget
  *    bounded above by `shortlistCap` (equi-join on cand_id) — the
  *    per-query cost is O(cap), independent of index size.
  *
  * Ids are unique in [[encode]], [[pqTopK]] and [[indexTopK]], as in
  * [[Packing.packShards]]: each row is encoded and scored on its own,
  * where an aggregate by id would merge rows that share one.
  */
object Pq {

  /** `m` subspaces × `ksub` centroids each, `iters` Lloyd rounds on
    * a ≤`trainRows` hash-sample; ADC keeps
    * `min(max(shortlist, 1% of the query's candidate rows), shortlistCap)`
    * candidates per query for the exact re-rank — the 1% term keeps
    * recall roughly scale-stable while the index is small/medium, and
    * `shortlistCap` bounds the per-query exact-scoring cost with a
    * FAISS-style fixed refine budget once the index is large (at 10⁹
    * vectors an uncapped 1% would mean 10⁷ exact re-ranks per query,
    * erasing ADC's compression win). Recall at the cap is a knob the
    * caller trades against cost: raising the cap recovers the
    * uncapped recall profile at proportional re-rank expense
    * (PqSpec pins a recall floor with the cap binding).
    * `coarse` switches on IVF routing (IVFADC).
    *
    * Training holds its sample on the driver: `trainRows × dim`
    * floats plus their quantized longs (4096 × 64 at the defaults,
    * about 3 MB).
    */
  final case class PqParams(m: Int = 8, ksub: Int = 16, iters: Int = 2,
                            shortlist: Int = 50, trainRows: Int = 4096,
                            shortlistCap: Int = 1024,
                            coarse: Option[Similarity.IvfParams] = None)

  /** Train per-subspace codebooks on a deterministic hash-sample.
    * Returns a LOCAL (driver-built) frame (sub, code, cv, cn2) of
    * m·ksub rows — bounded metadata, like the SemDeDup codebook.
    * ksub clamps to the sample size (tiny-corpus edge). The sample —
    * the ≤ `trainRows` smallest-id-hash rows, a distributed
    * TakeOrdered — is the one job; the ksub smallest-hash sample
    * vectors donate the initial sub-centroids, and each Lloyd round
    * assigns every sample subvector to its nearest sub-centroid
    * (exact-integer squared L2, ties to the lowest code) and moves
    * each non-empty cell to its members' mean. Empty cells keep
    * their previous centroid (determinism over re-seeding; a dead
    * code simply never wins an argmin).
    */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                     p: PqParams): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = Similarity.hashSample(corpus.select(col(idCol), col(vecCol)), idCol, p.trainRows)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "trainCodebooks: the corpus is empty, so there is nothing to train on")
    val dim = sample.head.length
    require(dim % p.m == 0, s"dim $dim not divisible by m=${p.m}")
    val dsub = dim / p.m
    val q = sample.map(v => CentroidMath.quantize(v))
    // cents(sub)(code - 1)
    var cents = Array.tabulate(p.m, math.min(p.ksub, sample.length)) { (s, c) =>
      sample(c).slice(s * dsub, (s + 1) * dsub)
    }
    for (_ <- 1 to p.iters)
      cents = cents.zipWithIndex.map { case (sc, s) => lloyd(q, sc, s * dsub, dsub) }
    cents.head.indices.flatMap(c => (0 until p.m).map(s => (s, c + 1, cents(s)(c).toSeq)))
      .toDF("sub", "code", "cv")
      .withColumn("cn2", Similarity.qnorm2(col("cv")))
  }

  /** One Lloyd round of one subspace (`from` is its first component)
    * over the quantized sample `q`.
    */
  private def lloyd(q: Array[Array[Long]], cents: Array[Array[Float]],
                    from: Int, dsub: Int): Array[Array[Float]] = {
    val cq = cents.map(v => CentroidMath.quantize(v))
    val cn2 = cq.map(CentroidMath.norm2)
    val sums = Array.ofDim[Long](cents.length, dsub)
    val counts = Array.ofDim[Long](cents.length, dsub)
    q.foreach { v =>
      val len = CentroidMath.subLen(v, from, dsub)
      val j = CentroidMath.nearestSub(cq, cn2, v, from, len)
      for (i <- 0 until len) {
        sums(j)(i) = Math.addExact(sums(j)(i), v(from + i))
        counts(j)(i) += 1
      }
    }
    cents.indices.map { j =>
      if (counts(j)(0) == 0) cents(j)
      else Array.tabulate(dsub)(i =>
        if (counts(j)(i) == 0) 0f else CentroidMath.mean(sums(j)(i), counts(j)(i)))
    }.toArray
  }

  /** The codebook `cents` on the driver, refused when it is empty or
    * its subspace count disagrees with `p.m`. ksub needs no check:
    * scoring looks codes up in the stored codebook itself.
    */
  private def bookOf(cents: DataFrame, p: PqParams): PqBook = {
    val rows = cents.select(col("sub"), col("code"), col("cv"), col("cn2")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2), r.getLong(3)))
    require(rows.nonEmpty, "the PQ codebook is empty: train it on a non-empty corpus")
    val book = PqBook(rows.toSeq)
    // m is baked into the stored artifact: a caller-supplied p.m that
    // disagrees would slice and decode every vector wrongly
    require(book.m == p.m,
      s"stored codebooks have m=${book.m} but params say m=${p.m} — " +
        "decoding with the wrong subspace count would mis-score every code")
    book
  }

  /** Encode a corpus: (id, codes array<int> of length m, n2). The
    * index artifact a production pipeline would persist — `m` small
    * ints per vector instead of `dim` floats. One projection through
    * the codebook kernel; an empty corpus encodes to an empty frame,
    * an empty codebook is refused.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             cents: DataFrame, p: PqParams): DataFrame = {
    val book = bookOf(cents, p)
    corpus.select(col(idCol), Centroids.pqEncode(col(vecCol), book).as("codes"),
      Similarity.qnorm2(col(vecCol)).as("n2"))
  }

  /** PQ-ADC cosine top-k: train → encode → per-query LUT → ADC
    * shortlist → exact re-rank. Output matches
    * [[Similarity.bruteTopK]]: (query_id, rnk, cand_id, cosine).
    *
    * ADC estimate: adc_dot = Σ_sub LUT(sub, code) is the exact
    * integer dot of the query against the candidate's RECONSTRUCTION
    * (nearest sub-centroids); adc_cos normalizes by the
    * reconstruction's norm (Σ_sub cn2 — exact, precomputable per
    * candidate from its codes alone). Ranking on adc_cos with
    * cand_id tie-break is deterministic; the exact re-rank then
    * scores only `shortlist` true vectors per query.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, p: PqParams = PqParams()): DataFrame = {
    val book = bookOf(trainCodebooks(corpus, idCol, vecCol, p), p)
    // the corpus codes (the "index"): (cand_id, codes)
    val codes = corpus.select(col(idCol).as("cand_id"),
      Centroids.pqEncode(col(vecCol), book).as("codes"))
    // with IVF coarse routing the scored set is first restricted to
    // the query's probed cells (IVFADC)
    val pairs = p.coarse.map { ivf =>
      val cells = Similarity.ivfCodebook(corpus, idCol, vecCol, ivf.nCells)
      Similarity.nearestCells(queries, idCol, vecCol, cells, "query_id", ivf.nProbe)
        .join(Similarity.nearestCells(corpus, idCol, vecCol, cells, "cand_id", 1), Seq("cent_id"))
        .select("query_id", "cand_id")
    }
    adcRank(book, codes, pairs, corpus, queries, idCol, vecCol, k, p)
  }

  /** ADC top-k against a PREBUILT index — the persisted-artifact
    * path (q154): `cents` and `encoded` are [[trainCodebooks]] /
    * [[encode]] outputs read back from storage, so scoring never
    * retrains and never touches raw corpus floats until the exact
    * re-rank (which reads `corpus` only for the shortlisted
    * candidates). This is the FAISS lifecycle on Spark: train once,
    * store the codebooks (bounded metadata) and the m-codes-per-row
    * table (the 32×-compressed index), encode incremental batches
    * with the SAME stored codebooks, and serve queries against the
    * union — no drift between index generations, because assignment
    * is a pure function of (vector, codebooks). The codebook loads
    * to the driver once (one job for a stored one); an empty one, or
    * one whose m disagrees with `p.m`, is refused.
    *
    * @param excludeSelf drop the candidate whose id equals the query
    *   id (true = the self-search convention [[pqTopK]] uses, right
    *   when queries ARE corpus rows, as in q154). Set false when the
    *   query set is EXTERNAL — ids live in a different space, and an
    *   accidental id collision must not silently drop a (possibly
    *   top-1) candidate.
    */
  def indexTopK(cents: DataFrame, encoded: DataFrame, corpus: DataFrame,
                queries: DataFrame, idCol: String, vecCol: String, k: Int,
                p: PqParams = PqParams(),
                excludeSelf: Boolean = true): DataFrame =
    adcRank(bookOf(cents, p), encoded.select(col(idCol).as("cand_id"), col("codes")), None,
      corpus, queries, idCol, vecCol, k, p, excludeSelf)

  /** Shared ADC tail: score every (candidate, query) pair — or only
    * the routed `pairs` — against the query's broadcast lookup table,
    * take the budgeted shortlist, exact-re-rank against raw vectors.
    */
  private def adcRank(book: PqBook, codes: DataFrame, pairs: Option[DataFrame],
                      corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, p: PqParams,
                      excludeSelf: Boolean = true): DataFrame = {
    // one row per query: its m·ksub lookup table and exact norm
    val luts = broadcast(queries.select(col(idCol).as("query_id"),
      Centroids.adcTable(col(vecCol), book).as("lut"),
      Similarity.qnorm2(col(vecCol)).as("qn2")))
    val adc = pairs.fold(codes.crossJoin(luts))(
        codes.join(_, Seq("cand_id")).join(luts, Seq("query_id")))
      .filter(if (excludeSelf) col("cand_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("cand_id"), col("qn2"),
        Centroids.adcScore(col("codes"), col("lut"), book).as("adc"))
      .withColumn("adc_cos",
        Similarity.cosine(col("adc.adc_dot"), col("qn2"), col("adc.cn2_hat")))
    // refinement budget: grows with the QUERY's candidate count (1%
    // — recall decays if a fixed shortlist covers an ever-thinner
    // slice of a growing index) but is hard-capped at shortlistCap so
    // the per-query exact re-rank cost is bounded at any index size.
    // Computed in-plan per query (count over the same partitioning as
    // the rank window — no extra action, no extra exchange; under IVF
    // routing it is the routed cell population, the right denominator)
    val ws = Window.partitionBy("query_id").orderBy(col("adc_cos").desc, col("cand_id"))
    val budget = least(
      greatest(lit(p.shortlist),
        (count(lit(1)).over(Window.partitionBy("query_id")) / lit(100L)).cast("int")),
      lit(p.shortlistCap))
    val short = adc.withColumn("srn", row_number().over(ws))
      .withColumn("__budget", budget)
      .filter(col("srn") <= col("__budget"))
      .select("query_id", "cand_id")
    // exact re-rank of the shortlist only
    Similarity.topK(Similarity.rerank(short, corpus, queries, idCol, vecCol), k)
  }
}
