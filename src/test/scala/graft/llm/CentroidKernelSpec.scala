package graft.llm

import graft.{SparkSpec, Tables}
import graft.llm.Pq.PqParams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The nearest-centroid kernels (graft.functions.Centroids) against
  * the relational forms they replace (AnnReference): the same rows
  * from every PQ and SemDeDup entry point and from the IVF corpus
  * side, at 1 and 4 partitions, on real and seeded embeddings and on
  * planted ties; plus the job budgets the kernels buy and the
  * refusals of empty inputs.
  */
class CentroidKernelSpec extends SparkSpec {
  import spark.implicits._

  private val p = PqParams()
  private lazy val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding").cache()

  /** `n` seeded Gaussian vectors of width `dim`, ids from `id0`. */
  private def gauss(n: Int, dim: Int, seed: Long, id0: Long = 1L): DataFrame = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (id0 + i, Seq.fill(dim)((r.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
  }

  /** `n` seeded nonzero vectors over {−1, 0, 1}⁸: repeated vectors,
    * and cosines and distances that tie exactly all over.
    */
  private def lattice(n: Int, seed: Long): DataFrame = {
    val r = new scala.util.Random(seed)
    def draw(): Seq[Float] = {
      val v = Seq.fill(8)((r.nextInt(3) - 1).toFloat)
      if (v.forall(_ == 0f)) draw() else v
    }
    (1 to n).map(i => (i.toLong, draw())).toDF("vec_id", "embedding")
  }

  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  /** Same columns and the same multiset of rows, and not vacuously. */
  private def same(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq === want.columns.toSeq, what)
    val (g, w) = (rows(got), rows(want))
    assert(w.nonEmpty, s"$what: the reference returned no rows")
    assert(g === w, what)
  }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  private def reloaded(df: DataFrame, name: String): DataFrame = {
    val dir = s"${tmpDir(name)}/t"
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** train, encode (local and reloaded codebook) and the top-k entry
    * points, each against its reference.
    */
  private def samePq(corpus: DataFrame, queries: DataFrame, pp: PqParams, what: String): Unit = {
    val cents = Pq.trainCodebooks(corpus, "vec_id", "embedding", pp)
    same(cents, AnnReference.trainCodebooks(corpus, "vec_id", "embedding", pp), s"$what train")
    val want = AnnReference.encode(corpus, "vec_id", "embedding", cents, pp)
    same(Pq.encode(corpus, "vec_id", "embedding", cents, pp), want, s"$what encode")
    val back = reloaded(cents, "cb")
    same(Pq.encode(corpus, "vec_id", "embedding", back, pp), want, s"$what encode reloaded")
    same(Pq.pqTopK(corpus, queries, "vec_id", "embedding", 5, pp),
      AnnReference.pqTopK(corpus, queries, "vec_id", "embedding", 5, pp), s"$what pqTopK")
    val codes = reloaded(want, "codes")
    for (ex <- Seq(true, false))
      same(Pq.indexTopK(back, codes, corpus, queries, "vec_id", "embedding", 5, pp, ex),
        AnnReference.indexTopK(back, codes, corpus, queries, "vec_id", "embedding", 5, pp, ex),
        s"$what indexTopK excludeSelf=$ex")
  }

  test("PQ train, encode, pqTopK and indexTopK equal the relational forms at 1 and 4 partitions") {
    val ext = gauss(6, 64, 11, id0 = 1000000L)
    for (n <- Seq(1, 4)) {
      val corpus = emb.repartition(n)
      // self-search: the queries are corpus rows
      samePq(corpus, corpus.filter(col("vec_id") % 50 === 0), p, s"emb/$n self")
      samePq(corpus, ext.union(corpus.filter(col("vec_id") === 7L)), p.copy(ksub = 64), s"emb/$n ext")
      val g = gauss(300, 16, 5).repartition(n)
      samePq(g, g.filter(col("vec_id") % 40 === 0), p.copy(iters = 3), s"gauss/$n")
    }
  }

  test("IVFADC and the IVF corpus side equal the cross join plus max_by") {
    val ivf = Similarity.IvfParams(nCells = 16, nProbe = 8)
    for (n <- Seq(1, 4)) {
      val corpus = emb.repartition(n)
      val probes = corpus.filter(col("vec_id") % 100 === 0)
      val pp = p.copy(coarse = Some(ivf))
      same(Pq.pqTopK(corpus, probes, "vec_id", "embedding", 10, pp),
        AnnReference.pqTopK(corpus, probes, "vec_id", "embedding", 10, pp), s"IVFADC/$n")
      val cells = Similarity.ivfCodebook(corpus, "vec_id", "embedding", ivf.nCells)
      same(Similarity.nearestCells(corpus, "vec_id", "embedding", cells, "cand_id", 1),
        AnnReference.nearestCells(corpus, "vec_id", "embedding", cells, "cand_id"), s"cells/$n")
    }
  }

  test("kmeansAssign and semanticDups equal the cross join plus max_by at 1 and 4 partitions") {
    val copies = emb.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 20000000L).as("vec_id"), col("embedding"))
    val g0 = gauss(400, 16, 9)
    val near = g0.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * 1.01f).as("embedding"))
    for (n <- Seq(1, 4); (name, corpus) <- Seq("emb" -> emb.unionByName(copies),
                                               "gauss" -> g0.unionByName(near))) {
      val d = corpus.repartition(n)
      for ((how, k, hash) <- Seq(("farthest", 8, false), ("hash", 8, true), ("routed", 40, true)))
        same(SemDedup.kmeansAssign(d, "vec_id", "embedding", k = k, initHash = hash),
          AnnReference.kmeansAssign(d, "vec_id", "embedding", k = k, initHash = hash),
          s"$name/$n kmeansAssign $how")
      same(SemDedup.semanticDups(d, "vec_id", "embedding", threshold = 0.9),
        AnnReference.semanticDups(d, "vec_id", "embedding", threshold = 0.9),
        s"$name/$n semanticDups")
    }
    // routed with farthest-first seeds (40 seed jobs; one partitioning)
    val g = gauss(200, 16, 3)
    same(SemDedup.kmeansAssign(g, "vec_id", "embedding", k = 40),
      AnnReference.kmeansAssign(g, "vec_id", "embedding", k = 40), "routed farthest")
  }

  test("planted ties: duplicates, a zero vector, equidistant cells, a corpus smaller than ksub") {
    // a zero vector's cosine divides by zero: ANSI refuses it in both
    // forms (below); with ANSI off both rank its null sims lowest
    withAnsi(on = false) {
      val zero = Seq((0L, Seq.fill(8)(0f))).toDF("vec_id", "embedding")
      for (n <- Seq(1, 4)) {
        val d = lattice(60, 13).unionByName(zero).repartition(n)
        assert(d.select("embedding").distinct().count() < 61, "construction: repeated vectors")
        samePq(d, d.filter(col("vec_id") % 9 === 0), PqParams(m = 2, ksub = 4, iters = 3), s"lattice/$n")
        for (hash <- Seq(false, true))
          same(SemDedup.kmeansAssign(d, "vec_id", "embedding", k = 5, initHash = hash),
            AnnReference.kmeansAssign(d, "vec_id", "embedding", k = 5, initHash = hash),
            s"lattice/$n kmeansAssign hash=$hash")
        same(SemDedup.semanticDups(d, "vec_id", "embedding", threshold = 0.5, k = 5),
          AnnReference.semanticDups(d, "vec_id", "embedding", threshold = 0.5, k = 5),
          s"lattice/$n semanticDups")
        val cells = Similarity.ivfCodebook(d, "vec_id", "embedding", 6)
        same(Similarity.nearestCells(d, "vec_id", "embedding", cells, "cand_id", 1),
          AnnReference.nearestCells(d, "vec_id", "embedding", cells, "cand_id"), s"lattice/$n cells")
      }
    }
    // a corpus smaller than ksub: every vector is its own cell
    val tiny = emb.filter(col("vec_id") < 5L)
    samePq(tiny, tiny.filter(col("vec_id") < 2L), p, "tiny")
    // a sub-vector equidistant from two sub-centroids takes the lower
    // code, whatever the codebook's row order
    val cb = Seq((0, 2, Seq(-1f, 0f)), (0, 1, Seq(1f, 0f))).toDF("sub", "code", "cv")
      .withColumn("cn2", Similarity.qnorm2(col("cv")))
    val mid = Seq((1L, Seq(0f, 0.5f)), (2L, Seq(0f, -0.25f))).toDF("vec_id", "embedding")
    val one = PqParams(m = 1)
    val got = Pq.encode(mid, "vec_id", "embedding", cb, one)
    same(got, AnnReference.encode(mid, "vec_id", "embedding", cb, one), "equidistant")
    assert(got.select("codes").as[Seq[Int]].collect().toSet === Set(Seq(1)))
  }

  test("a zero vector's cosine is an ANSI division by zero in both forms") {
    val d = emb.filter(col("vec_id") < 20L)
      .unionByName(Seq((-1L, Seq.fill(64)(0f))).toDF("vec_id", "embedding"))
    def failsLikeDivide(df: => DataFrame): String = {
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).find(m => m != null && m.contains("DIVIDE_BY_ZERO"))
        .getOrElse(fail(s"not a division by zero: $e"))
    }
    failsLikeDivide(SemDedup.kmeansAssign(d, "vec_id", "embedding", k = 3, initHash = true))
    failsLikeDivide(AnnReference.kmeansAssign(d, "vec_id", "embedding", k = 3, initHash = true))
  }

  test("job budgets: train 1, local-codebook encode 0, stored-codebook load 1, a job per farthest seed") {
    val corpus = reloaded(emb, "corpus")
    val (cents, trainJobs) = jobsDuring(Pq.trainCodebooks(corpus, "vec_id", "embedding", p))
    assert(trainJobs === 1, "trainCodebooks: one sample collect")
    val (codes, encodeJobs) = jobsDuring(Pq.encode(corpus, "vec_id", "embedding", cents, p))
    assert(encodeJobs === 0, "encode builds with no job over a local codebook")
    val back = reloaded(cents, "cb_jobs")
    val stored = reloaded(codes, "codes_jobs")
    val (_, loadJobs) = jobsDuring(
      Pq.indexTopK(back, stored, corpus, corpus.limit(3), "vec_id", "embedding", 5, p))
    assert(loadJobs === 1, "indexTopK: one codebook load")
    val (_, seedJobs) = jobsDuring(SemDedup.kmeansAssign(corpus, "vec_id", "embedding", k = 5, iters = 0))
    assert(seedJobs === 5, "farthest-first: one job per seed")
  }

  test("empty corpora and codebooks are refused; a NaN component fails on the driver") {
    val empty = emb.filter(lit(false))
    val e1 = intercept[IllegalArgumentException](Pq.trainCodebooks(empty, "vec_id", "embedding", p))
    assert(e1.getMessage.contains("corpus is empty"))
    val cents = Pq.trainCodebooks(emb, "vec_id", "embedding", p)
    val none = cents.filter(lit(false))
    val e2 = intercept[IllegalArgumentException](Pq.encode(emb, "vec_id", "embedding", none, p))
    assert(e2.getMessage.contains("codebook is empty"))
    val codes = Pq.encode(emb, "vec_id", "embedding", cents, p)
    val e3 = intercept[IllegalArgumentException](
      Pq.indexTopK(none, codes, emb, emb.limit(2), "vec_id", "embedding", 5, p))
    assert(e3.getMessage.contains("codebook is empty"))
    val e4 = intercept[IllegalArgumentException](
      SemDedup.kmeansAssign(empty, "vec_id", "embedding", k = 3))
    assert(e4.getMessage.contains("corpus is empty"))
    // encoding an empty frame is not refused: no rows
    assert(Pq.encode(empty, "vec_id", "embedding", cents, p).count() === 0L)
    val nan = Seq((1L, Seq.fill(63)(0.5f) :+ Float.NaN)).toDF("vec_id", "embedding")
    intercept[ArithmeticException](Pq.trainCodebooks(nan, "vec_id", "embedding", p))
  }
}
