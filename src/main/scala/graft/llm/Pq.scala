package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
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
  *    driver-resident like the SemDeDup Lloyd update, broadcast to
  *    every join that needs them;
  *  - encode is one scan: N·m subvector rows against the broadcast
  *    m·ksub codebook, argmin as a `max_by` hash aggregate (partial
  *    aggregation collapses map-side — no window, no sort);
  *  - ADC scoring joins the N·m code rows against a broadcast
  *    per-query LUT (Q·m·ksub rows) and hash-aggregates to one row
  *    per (query, candidate) — map-side partial aggregation again,
  *    no shuffle of raw vectors;
  *  - with `coarse` set, only the probed cells' candidates are
  *    scored (candidate cost ∝ nProbe/nCells of the corpus);
  *  - the exact re-rank touches raw vectors for a per-query budget
  *    bounded above by `shortlistCap` (equi-join on cand_id) — the
  *    per-query cost is O(cap), independent of index size.
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
    */
  final case class PqParams(m: Int = 8, ksub: Int = 16, iters: Int = 2,
                            shortlist: Int = 50, trainRows: Int = 4096,
                            shortlistCap: Int = 1024,
                            coarse: Option[Similarity.IvfParams] = None)

  /** Explode a vector frame into per-subspace rows:
    * (__id, sub, sv, svn2) — `m` rows per vector, each an exact
    * quantized-norm'd `dsub`-slice.
    */
  private def subRows(df: DataFrame, idCol: String, vecCol: String,
                      m: Int, dsub: Int): DataFrame = {
    val pieces = array((0 until m).map { i =>
      struct(lit(i).as("sub"), slice(col(vecCol), i * dsub + 1, dsub).as("sv"))
    }: _*)
    df.select(col(idCol).as("__id"), explode(pieces).as("s"))
      .select(col("__id"), col("s.sub").as("sub"), col("s.sv").as("sv"),
        Similarity.qnorm2(col("s.sv")).as("svn2"))
  }

  /** Assign every (__id, sub) row to its nearest sub-centroid by
    * exact integer squared-L2 (d = svn2 − 2·qdot + cn2; the common
    * svn2 term cancels in the argmin but is kept so `d` is a true
    * distance for the spec). Ties go to the lowest code. One hash
    * aggregate — the SemDeDup `max_by` idiom, no window.
    */
  private def assignCodes(subs: DataFrame, cents: DataFrame): DataFrame =
    subs.join(broadcast(cents), Seq("sub"))
      .withColumn("d",
        col("svn2") - lit(2L) * Similarity.qdot(col("sv"), col("cv")) + col("cn2"))
      .groupBy("__id", "sub")
      .agg(expr("max_by(code, struct(-d, -code))").as("code"),
        expr("min(struct(d, code))").getField("d").as("d"))

  /** Train per-subspace codebooks on a deterministic hash-sample.
    * Returns a LOCAL (driver-built) frame (sub, code, cv, cn2) of
    * m·ksub rows — bounded metadata, like the SemDeDup codebook.
    * ksub clamps to the sample size (tiny-corpus edge).
    */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                     p: PqParams): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % p.m == 0, s"dim $dim not divisible by m=${p.m}")
    val dsub = dim / p.m
    // deterministic training sample: smallest-id-hash rows (a
    // distributed TakeOrdered — no global sort), barrier-cached
    // because init + every Lloyd round rescans it
    val sample = BarrierCache.track(Similarity.hashSample(
      corpus.select(col(idCol), col(vecCol)), idCol, p.trainRows))
    val subs = BarrierCache.track(subRows(sample, idCol, vecCol, p.m, dsub))
    // init: the ksub smallest-hash sample vectors donate one
    // sub-centroid per subspace (one shared sample serves all m)
    var cents: Seq[(Int, Int, Seq[Float])] =
      Similarity.hashSample(sample, idCol, p.ksub)
        .select(col(idCol), col(vecCol))
        .collect().zipWithIndex.flatMap { case (r, c) =>
          val v = r.getSeq[Float](1)
          (0 until p.m).map(i => (i, c + 1, v.slice(i * dsub, (i + 1) * dsub)))
        }.toSeq
    def centsDf(cs: Seq[(Int, Int, Seq[Float])]): DataFrame =
      cs.toDF("sub", "code", "cv")
        .withColumn("cn2", Similarity.qnorm2(col("cv")))
    for (_ <- 1 to p.iters) {
      val upd = Similarity.cellMeans(assignCodes(subs, centsDf(cents))
          .join(subs.select(col("__id"), col("sub"), col("sv")), Seq("__id", "sub")),
        Seq("sub", "code"), "sv", dsub)
      // empty cells keep their previous centroid (determinism over
      // re-seeding; a dead code simply never wins an argmin)
      cents = cents.map { case (s, c, v) => (s, c, upd.getOrElse(Row(s, c), v)) }
    }
    centsDf(cents)
  }

  /** Subspace width of trained codebooks: a sub-centroid's length. */
  private def dsubOf(cents: DataFrame): Int =
    cents.select(size(col("cv"))).head().getInt(0)

  /** Encode a corpus: (id, codes array<int> of length m, n2). The
    * index artifact a production pipeline would persist — `m` small
    * ints per vector instead of `dim` floats. The subspace width
    * comes from `cents`, so an empty corpus encodes to an empty
    * frame.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             cents: DataFrame, p: PqParams): DataFrame = {
    val subs = subRows(corpus, idCol, vecCol, p.m, dsubOf(cents))
    assignCodes(subs, cents)
      .groupBy("__id")
      .agg(transform(sort_array(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
      .join(corpus.select(col(idCol).as("__id"),
        Similarity.qnorm2(col(vecCol)).as("n2")), Seq("__id"))
      .select(col("__id").as(idCol), col("codes"), col("n2"))
  }

  /** Per-query LUT: dot of each query subvector against each
    * sub-centroid, plus that centroid's exact norm contribution —
    * Q·m·ksub rows, broadcast.
    */
  private def lutOf(queries: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame, m: Int, dsub: Int): DataFrame =
    broadcast(
      subRows(queries, idCol, vecCol, m, dsub)
        .select(col("__id").as("query_id"), col("sub"), col("sv"))
        .join(cents, Seq("sub"))
        .select(col("query_id"), col("sub"), col("code"),
          Similarity.qdot(col("sv"), col("cv")).as("lut_dot"), col("cn2")))

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
    val cents = trainCodebooks(corpus, idCol, vecCol, p)
    val dsub = dsubOf(cents)
    // code rows for the whole corpus (the "index"): (cand_id, sub, code)
    val codeRows = assignCodes(subRows(corpus, idCol, vecCol, p.m, dsub), cents)
      .select(col("__id").as("cand_id"), col("sub"), col("code"))
    val lut = lutOf(queries, idCol, vecCol, cents, p.m, dsub)
    // candidate × query fan-out comes from the LUT hash join itself
    // (the broadcast LUT holds one row per (query, sub, code), so a
    // plain equi-join on (sub, code) emits every query's term — no
    // nested-loop node); with IVF coarse routing the scored set is
    // first restricted to the query's probed cells (IVFADC)
    val adcTerms = p.coarse match {
      case None => codeRows.join(lut, Seq("sub", "code"))
      case Some(ivf) =>
        val cells = Similarity.ivfCodebook(corpus, idCol, vecCol, ivf.nCells)
        val pairs = Similarity.nearestCells(queries, idCol, vecCol, cells, "query_id", ivf.nProbe)
          .join(Similarity.nearestCells(corpus, idCol, vecCol, cells, "cand_id", 1), Seq("cent_id"))
          .select("query_id", "cand_id")
        codeRows.join(pairs, Seq("cand_id"))
          .join(lut, Seq("query_id", "sub", "code"))
    }
    adcRank(adcTerms, corpus, queries, idCol, vecCol, k, p)
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
    * is a pure function of (vector, codebooks).
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
                excludeSelf: Boolean = true): DataFrame = {
    // m and dsub are baked into the stored artifact: the query
    // slicing and the posexplode positions below derive from them,
    // so a caller-supplied p.m that disagrees with the persisted
    // codebooks would silently mis-decode every code. Read both from
    // storage in one aggregate and refuse a mismatch. (ksub needs no
    // check — scoring joins on the stored (sub, code) rows
    // themselves, so a wrong p.ksub cannot change the result.)
    val stored = cents.agg(max(col("sub")), max(size(col("cv")))).head()
    val mStored = stored.getInt(0) + 1
    require(mStored == p.m,
      s"stored codebooks have m=$mStored but params say m=${p.m} — " +
        "decoding with the wrong subspace count would mis-score every code")
    val dsub = stored.getInt(1)
    // encode() writes codes sorted by sub, so the array position IS
    // the subspace id — posexplode restores (cand_id, sub, code)
    val codeRows = encoded.select(col(idCol).as("cand_id"),
      posexplode(col("codes")).as(Seq("sub", "code")))
    val lut = lutOf(queries, idCol, vecCol, broadcast(cents), p.m, dsub)
    adcRank(codeRows.join(lut, Seq("sub", "code")), corpus, queries,
      idCol, vecCol, k, p, excludeSelf)
  }

  /** Shared ADC tail: aggregate LUT terms to (query, cand) scores,
    * take the budgeted shortlist, exact-re-rank against raw vectors.
    */
  private def adcRank(adcTerms: DataFrame, corpus: DataFrame,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, p: PqParams,
                      excludeSelf: Boolean = true): DataFrame = {
    // ADC: one hash aggregate to (query, cand) — partial aggregation
    // collapses the m rows map-side
    val qn = broadcast(queries.select(col(idCol).as("query_id"),
      Similarity.qnorm2(col(vecCol)).as("qn2")))
    val adc = adcTerms
      .groupBy("query_id", "cand_id")
      .agg(sum(col("lut_dot")).as("adc_dot"), sum(col("cn2")).as("cn2_hat"))
      .join(qn, Seq("query_id"))
      .withColumn("adc_cos",
        Similarity.cosine(col("adc_dot"), col("qn2"), col("cn2_hat")))
      .filter(if (excludeSelf) col("cand_id") =!= col("query_id") else lit(true))
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
