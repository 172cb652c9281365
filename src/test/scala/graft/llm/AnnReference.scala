package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational formulations the nearest-centroid kernels
  * ([[graft.functions.Centroids]]) replace, kept as test-only
  * references the way [[Similarity.qdotHof]] is kept for `QDot`: the
  * argmax is a broadcast cross join plus a `max_by` aggregate, PQ
  * training runs its Lloyd rounds as distributed [[Similarity.cellMeans]]
  * jobs, and ADC explodes the codes against a (query, sub, code)
  * lookup table and aggregates per (query, candidate). The engine's
  * operators must return exactly what these return.
  */
object AnnReference {

  // ---------------------------------------------------------------
  // nearest cell: cross join + max_by

  /** `Similarity.nearestCells(…, keep = 1)`. */
  def nearestCells(df: DataFrame, idCol: String, vecCol: String,
                   cents: DataFrame, outId: String): DataFrame =
    Similarity.bestCells(
      df.select(col(idCol).as(outId), col(vecCol).as("v"), Similarity.qnorm2(col(vecCol)).as("n2"))
        .crossJoin(broadcast(cents))
        .withColumn("sim", Similarity.cosine(Similarity.qdot(col("v"), col("centv")),
          col("n2"), col("centn2"))),
      outId, "cent_id", "sim")

  // ---------------------------------------------------------------
  // product quantization

  private def subRows(df: DataFrame, idCol: String, vecCol: String,
                      m: Int, dsub: Int): DataFrame = {
    val pieces = array((0 until m).map { i =>
      struct(lit(i).as("sub"), slice(col(vecCol), i * dsub + 1, dsub).as("sv"))
    }: _*)
    df.select(col(idCol).as("__id"), explode(pieces).as("s"))
      .select(col("__id"), col("s.sub").as("sub"), col("s.sv").as("sv"),
        Similarity.qnorm2(col("s.sv")).as("svn2"))
  }

  private def assignCodes(subs: DataFrame, cents: DataFrame): DataFrame =
    subs.join(broadcast(cents), Seq("sub"))
      .withColumn("d",
        col("svn2") - lit(2L) * Similarity.qdot(col("sv"), col("cv")) + col("cn2"))
      .groupBy("__id", "sub")
      .agg(expr("max_by(code, struct(-d, -code))").as("code"),
        expr("min(struct(d, code))").getField("d").as("d"))

  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                     p: Pq.PqParams): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    val dsub = dim / p.m
    val sample = Similarity.hashSample(corpus.select(col(idCol), col(vecCol)), idCol, p.trainRows)
      .cache()
    val subs = subRows(sample, idCol, vecCol, p.m, dsub).cache()
    var cents: Seq[(Int, Int, Seq[Float])] =
      Similarity.hashSample(sample, idCol, p.ksub)
        .select(col(idCol), col(vecCol))
        .collect().zipWithIndex.flatMap { case (r, c) =>
          val v = r.getSeq[Float](1)
          (0 until p.m).map(i => (i, c + 1, v.slice(i * dsub, (i + 1) * dsub)))
        }.toSeq
    def centsDf(cs: Seq[(Int, Int, Seq[Float])]): DataFrame =
      cs.toDF("sub", "code", "cv").withColumn("cn2", Similarity.qnorm2(col("cv")))
    for (_ <- 1 to p.iters) {
      val upd = Similarity.cellMeans(assignCodes(subs, centsDf(cents))
          .join(subs.select(col("__id"), col("sub"), col("sv")), Seq("__id", "sub")),
        Seq("sub", "code"), "sv", dsub)
      cents = cents.map { case (s, c, v) => (s, c, upd.getOrElse(Row(s, c), v)) }
    }
    subs.unpersist(); sample.unpersist()
    centsDf(cents)
  }

  private def dsubOf(cents: DataFrame): Int =
    cents.select(size(col("cv"))).head().getInt(0)

  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             cents: DataFrame, p: Pq.PqParams): DataFrame = {
    val subs = subRows(corpus, idCol, vecCol, p.m, dsubOf(cents))
    assignCodes(subs, cents)
      .groupBy("__id")
      .agg(transform(sort_array(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
      .join(corpus.select(col(idCol).as("__id"),
        Similarity.qnorm2(col(vecCol)).as("n2")), Seq("__id"))
      .select(col("__id").as(idCol), col("codes"), col("n2"))
  }

  private def lutOf(queries: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame, m: Int, dsub: Int): DataFrame =
    broadcast(
      subRows(queries, idCol, vecCol, m, dsub)
        .select(col("__id").as("query_id"), col("sub"), col("sv"))
        .join(cents, Seq("sub"))
        .select(col("query_id"), col("sub"), col("code"),
          Similarity.qdot(col("sv"), col("cv")).as("lut_dot"), col("cn2")))

  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, p: Pq.PqParams): DataFrame = {
    val cents = trainCodebooks(corpus, idCol, vecCol, p)
    val dsub = dsubOf(cents)
    val codeRows = assignCodes(subRows(corpus, idCol, vecCol, p.m, dsub), cents)
      .select(col("__id").as("cand_id"), col("sub"), col("code"))
    val lut = lutOf(queries, idCol, vecCol, cents, p.m, dsub)
    val adcTerms = p.coarse match {
      case None => codeRows.join(lut, Seq("sub", "code"))
      case Some(ivf) =>
        val cells = Similarity.ivfCodebook(corpus, idCol, vecCol, ivf.nCells)
        val pairs = Similarity.nearestCells(queries, idCol, vecCol, cells, "query_id", ivf.nProbe)
          .join(nearestCells(corpus, idCol, vecCol, cells, "cand_id"), Seq("cent_id"))
          .select("query_id", "cand_id")
        codeRows.join(pairs, Seq("cand_id"))
          .join(lut, Seq("query_id", "sub", "code"))
    }
    adcRank(adcTerms, corpus, queries, idCol, vecCol, k, p)
  }

  def indexTopK(cents: DataFrame, encoded: DataFrame, corpus: DataFrame,
                queries: DataFrame, idCol: String, vecCol: String, k: Int,
                p: Pq.PqParams, excludeSelf: Boolean): DataFrame = {
    val dsub = cents.agg(max(size(col("cv")))).head().getInt(0)
    val codeRows = encoded.select(col(idCol).as("cand_id"),
      posexplode(col("codes")).as(Seq("sub", "code")))
    val lut = lutOf(queries, idCol, vecCol, broadcast(cents), p.m, dsub)
    adcRank(codeRows.join(lut, Seq("sub", "code")), corpus, queries,
      idCol, vecCol, k, p, excludeSelf)
  }

  private def adcRank(adcTerms: DataFrame, corpus: DataFrame,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, p: Pq.PqParams,
                      excludeSelf: Boolean = true): DataFrame = {
    val qn = broadcast(queries.select(col(idCol).as("query_id"),
      Similarity.qnorm2(col(vecCol)).as("qn2")))
    val adc = adcTerms
      .groupBy("query_id", "cand_id")
      .agg(sum(col("lut_dot")).as("adc_dot"), sum(col("cn2")).as("cn2_hat"))
      .join(qn, Seq("query_id"))
      .withColumn("adc_cos",
        Similarity.cosine(col("adc_dot"), col("qn2"), col("cn2_hat")))
      .filter(if (excludeSelf) col("cand_id") =!= col("query_id") else lit(true))
    val ws = Window.partitionBy("query_id").orderBy(col("adc_cos").desc, col("cand_id"))
    val budget = least(
      greatest(lit(p.shortlist),
        (count(lit(1)).over(Window.partitionBy("query_id")) / lit(100L)).cast("int")),
      lit(p.shortlistCap))
    val short = adc.withColumn("srn", row_number().over(ws))
      .withColumn("__budget", budget)
      .filter(col("srn") <= col("__budget"))
      .select("query_id", "cand_id")
    Similarity.topK(Similarity.rerank(short, corpus, queries, idCol, vecCol), k)
  }

  // ---------------------------------------------------------------
  // SemDeDup

  private def nearest(corpusQ: DataFrame, cents: DataFrame): DataFrame =
    Similarity.bestCells(
      corpusQ.crossJoin(broadcast(cents))
        .withColumn("sim", Similarity.cosine(Similarity.qdot(col("__v"), col("centv")),
          col("__n2"), col("centn2"))),
      "__id", "cent_id", "sim", carry = Seq("__v", "__n2"))
      .withColumnRenamed("cent_id", "cluster")

  private def assignPass(corpusQ: DataFrame, cents: DataFrame, k: Int,
                         routeAbove: Int): DataFrame =
    if (k > routeAbove) SemDedup.nearestRouted(corpusQ, cents, k)
    else nearest(corpusQ, cents)

  private def farthestInit(corpusQ: DataFrame, k: Int): Seq[(Long, Seq[Float], Long)] = {
    val spark = corpusQ.sparkSession
    import spark.implicits._
    val seed0 = Similarity.hashSample(corpusQ, "__id", 1)
      .select(col("__id"), col("__v"), col("__n2"))
      .as[(Long, Seq[Float], Long)].head()
    val seeds = scala.collection.mutable.ArrayBuffer(seed0)
    while (seeds.size < k) {
      val cents = broadcast(seeds.toSeq.toDF("cent_id", "centv", "centn2"))
      val next = corpusQ
        .join(cents.select(col("cent_id").as("__id")), Seq("__id"), "left_anti")
        .crossJoin(cents)
        .withColumn("sim",
          Similarity.cosine(Similarity.qdot(col("__v"), col("centv")),
            col("__n2"), col("centn2")))
        .groupBy("__id").agg(max(col("sim")).as("best"), first(col("__v")).as("__v"),
          first(col("__n2")).as("__n2"))
        .orderBy(col("best").asc, col("__id").asc).limit(1)
        .select(col("__id"), col("__v"), col("__n2"))
        .as[(Long, Seq[Float], Long)].collect()
      if (next.isEmpty) return seeds.toSeq
      seeds += next.head
    }
    seeds.toSeq
  }

  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int = 8, iters: Int = 3, initHash: Boolean = false,
                   routeAbove: Int = 32): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val corpusQ = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      Similarity.qnorm2(col(vecCol)).as("__n2")).cache()
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    val init: Seq[(Long, Seq[Float], Long)] =
      if (initHash)
        Similarity.hashSample(corpusQ, "__id", k)
          .withColumn("cent_id",
            row_number().over(Window.orderBy("__h", "__id")).cast("long"))
          .select(col("cent_id"), col("__v"), col("__n2"))
          .as[(Long, Seq[Float], Long)].collect().toSeq
      else
        farthestInit(corpusQ, k).zipWithIndex
          .map { case ((_, v, n2), i) => (i + 1L, v, n2) }
    var cents = init.toDF("cent_id", "centv", "centn2")
    for (_ <- 1 to iters) {
      val newCents = Similarity.cellMeans(assignPass(corpusQ, cents, k, routeAbove),
          Seq("cluster"), "__v", dim)
        .toSeq.map { case (key, v) => (key.getLong(0), v) }.sortBy(_._1)
      cents = newCents.toDF("cent_id", "centv")
        .withColumn("centn2", Similarity.qnorm2(col("centv")))
    }
    assignPass(corpusQ, cents, k, routeAbove)
      .select(col("__id").as(idCol), col("cluster"))
  }

  def semanticDups(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, k: Int = 8, iters: Int = 3,
                   targetCell: Int = 512, routeAbove: Int = 32,
                   initHash: Option[Boolean] = None): DataFrame = {
    val n = corpus.count()
    val kEff = math.max(k, ((n + targetCell - 1) / targetCell).toInt)
    val assign = kmeansAssign(corpus, idCol, vecCol, kEff, iters,
      initHash = initHash.getOrElse(kEff > 16), routeAbove = routeAbove)
    val side = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        Similarity.qnorm2(col(vecCol)).as("__n2"))
      .join(assign.select(col(idCol).as("__id"), col("cluster")), Seq("__id"))
    val i = side.select(col("cluster"), col("__id").as("id_keep"),
      col("__v").as("vi"), col("__n2").as("ni"))
    val j = side.select(col("cluster"), col("__id").as("id_drop"),
      col("__v").as("vj"), col("__n2").as("nj"))
    i.join(j, Seq("cluster"))
      .filter(col("id_keep") < col("id_drop"))
      .withColumn("qdot", Similarity.qdot(col("vi"), col("vj")))
      .withColumn("cos", Similarity.cosine(col("qdot"), col("ni"), col("nj")))
      .filter(col("cos") >= threshold)
      .select(col("id_keep"), col("id_drop"), col("qdot"),
        col("ni").as("n2_i"), col("nj").as("n2_j"))
  }
}
