package graft

import graft.llm.Dedup
import org.apache.spark.sql.functions._

/** A8 dedup family: exact, MinHash-vs-exact equivalence, SimHash
  * precision, skew cap.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf).cache()

  test("exact dedup keeps min id per content hash") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val got = Dedup.exactDedup(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L), (3L, 1L)))
  }

  test("shingles: distinct word n-grams, short docs yield none") {
    val df = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val got = Dedup.shingles(df, "doc_id", "text", 3)
      .orderBy("doc_id", "shingle").as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "a b c"), (1L, "b c d")))
  }

  test("MinHash+LSH reproduces the exact Jaccard pair set (no lost dups)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_i", "id_j", "inter", "sz_union")
      .orderBy("id_i", "id_j").collect().toSeq
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "text", 3, 0.8)
      .select("id_i", "id_j", "inter", "sz_union")
      .orderBy("id_i", "id_j").collect().toSeq
    assert(exact.nonEmpty)
    assert(lsh === exact)
  }

  test("jaccard and minhash share ONE cached shingle index by construction") {
    graft.llm.BarrierCache.sweep(spark)
    // materialize the Jaccard query first — it creates the barrier
    // cache over the hashed shingle index
    Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8).count()
    // the MinHash query's plan must pick up that SAME cache: its
    // shingle index resolves to an InMemoryRelation (CacheManager
    // plan-identity hit), in both consumers (signatures + verify sets)
    val mh = Dedup.minhashNearDups(docs, "doc_id", "text", 3, 0.8)
    val imrs = mh.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(imrs.size >= 2, s"expected >=2 InMemoryRelation reads, got ${imrs.size}")
    // and a freshly-constructed index frame resolves to the cache too
    val idx = Dedup.hashedShingles(docs, "doc_id", "text", 3)
    val idxImr = idx.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(idxImr.nonEmpty, "fresh hashedShingles plan did not hit the cache")
    graft.llm.BarrierCache.sweep(spark)
  }

  test("SimHash pairs are high-Jaccard (precision against exact pairs)") {
    val sim = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 3)
      .select("id_i", "id_j").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_i", "id_j").as[(Long, Long)].collect().toSet
    assert(sim.nonEmpty)
    val precision = sim.count(exact.contains).toDouble / sim.size
    assert(precision >= 0.9, s"simhash precision $precision over ${sim.size} pairs")
  }

  test("SimHash pairs ≡ the all-pairs Hamming ≤ maxDist filter over the same signatures") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig")).cache()
    for (d <- Seq(0, 1, 3)) {
      val want = sigs.toDF("id_i", "sig_i").crossJoin(sigs.toDF("id_j", "sig_j"))
        .filter(col("id_i") < col("id_j"))
        .select(col("id_i"), col("id_j"), Dedup.hamming(col("sig_i"), col("sig_j")).as("dist"))
        .filter(col("dist") <= d)
        .as[(Long, Long, Int)].collect().toSet
      val got = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = d)
        .as[(Long, Long, Int)].collect()
      assert(got.length === got.toSet.size, s"maxDist=$d emitted a pair twice")
      assert(got.toSet === want, s"maxDist=$d")
    }
    assert(sigs.select("sig").distinct().count() < sigs.count(),
      "the corpus must carry identical signatures for maxDist=0 to mean anything")
    sigs.unpersist()
    graft.llm.BarrierCache.sweep(spark)
  }

  test("SimHash at maxDist = 0 joins only identical signatures") {
    // one 64-bit block: a 0-bit mask would put every distinct
    // signature in one bucket — C(distinct, 2) candidate pairs. The
    // optimizer folds the distance filter into the band join's
    // condition, so its output metric would count only survivors;
    // keeping predicates where they are written makes it count every
    // candidate the banding generates
    val n = docs.count()
    val excluded = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(excluded)
    spark.conf.set(excluded, "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates")
    try {
      val (cnt, joinOut) = countWithJoinOutput(
        Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 0))
      assert(joinOut <= cnt + 10L * n,
        s"joins emitted $joinOut rows for $cnt identical-signature pairs over $n docs")
    } finally {
      prev.fold(spark.conf.unset(excluded))(spark.conf.set(excluded, _))
      graft.llm.BarrierCache.sweep(spark)
    }
  }

  test("SimHash refuses a negative maxDist") {
    intercept[IllegalArgumentException](
      Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = -1))
  }

  test("hot-shingle cap bounds the join without losing identical dups") {
    val capped = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8, maxDocFreq = 50)
      .select("id_i", "id_j").as[(Long, Long)].collect().toSet
    val full = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_i", "id_j").as[(Long, Long)].collect().toSet
    assert(capped.nonEmpty)
    // when no shingle exceeds the cap the filter is a no-op and the
    // capped result must be EXACTLY the full result (the semantic pin
    // for hot overlap lives in the synthetic test below)
    val maxDf = Dedup.shingles(docs, "doc_id", "text", 3)
      .groupBy("shingle").count().agg(max("count")).as[Long].head()
    if (maxDf <= 50) assert(capped === full)
  }

  test("simhash identical-doc pile-up stays linear through the bands") {
    // 2000 copies of one boilerplate doc collapse to ONE simhash —
    // the old per-band join emitted 4·n² candidate rows before the
    // distinct; the distinct-signature design keeps total join output
    // within a whisker of the output-inherent C(n,2), and a
    // maxSigFreq cap excludes the degenerate group entirely
    val n = 2000L
    val boiler = (0L until n).map(i => (i, "the quick brown fox jumps over the lazy dog again and again"))
    val tail = (0 until 10).map(i =>
      (100000L + i, s"unique document number $i with its own distinctive words w$i x$i y$i z$i"))
    val df = (boiler ++ tail).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(df, "doc_id", "text", maxDist = 3)
    val (cnt, joinOut) = countWithJoinOutput(pairs)
    assert(cnt >= n * (n - 1) / 2)
    assert(joinOut <= n * (n - 1) / 2 + 100L * n,
      s"joins emitted $joinOut rows — simhash band join is quadratic in the hot group")
    val capped = Dedup.simhashNearDups(df, "doc_id", "text", maxDist = 3,
      maxSigFreq = 100)
    assert(capped.filter(col("id_j") < 100000L).count() === 0L)
    graft.llm.BarrierCache.sweep(spark)
  }

  test("minhash identical-doc pile-up stays linear through the bucket join") {
    // 1500 identical docs share the full signature and hence every
    // band's bucket — the old bucket self-join paid 32·n² candidate
    // rows; the distinct-signature form keeps total join output
    // within an additive band of the output-inherent C(n,2)
    val n = 1500L
    val boiler = (0L until n).map(i => (i, "same exact boilerplate text repeated across the corpus over and over"))
    val tail = (0 until 10).map(i =>
      (100000L + i, s"distinct document $i about topic t$i with words u$i v$i w$i"))
    val df = (boiler ++ tail).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text", n = 3, threshold = 0.8)
    val (cnt, joinOut) = countWithJoinOutput(pairs)
    assert(cnt >= n * (n - 1) / 2, "identical docs must all pair")
    // verify-stage joins re-touch each candidate twice; 4·C(n,2) is
    // still ~8x under the old 32·n² blow-up
    assert(joinOut <= 4L * (n * (n - 1) / 2) + 100L * n,
      s"joins emitted $joinOut rows — minhash banding is quadratic in the hot group")
    graft.llm.BarrierCache.sweep(spark)
  }

  test("embedding identical-vector pile-up stays linear through the bucket join") {
    // 2000 exact copies of one embedding share every LSH table's
    // bucket — the old bucket self-join paid nTables·n² candidates;
    // the distinct-vector form emits the same pair set with join
    // output within a small multiple of the output-inherent C(n,2)
    val n = 2000L
    val base = Array.tabulate(8)(i => (i + 1).toFloat)
    val copies = (0L until n).map(i => (i, base.toSeq))
    val tail = (0 until 8).map(i =>
      (100000L + i, Array.tabulate(8)(j => ((i * 17 + j * 3 + 5) % 23).toFloat - 11f).toSeq))
    val df = (copies ++ tail).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, "vec_id", "embedding", threshold = 0.99)
    val (cnt, joinOut) = countWithJoinOutput(pairs)
    assert(cnt >= n * (n - 1) / 2, "identical vectors must all pair at cosine 1")
    assert(joinOut <= 4L * (n * (n - 1) / 2) + 100L * n,
      s"joins emitted $joinOut rows — LSH banding is quadratic in the duplicated vector")
    graft.llm.BarrierCache.sweep(spark)
  }

  test("capped Jaccard scores numerator and denominator in ONE universe") {
    // Two identical docs whose shingles are MOSTLY hot (shared with
    // 60 fillers): scoring filtered intersections against unfiltered
    // sizes would deflate the pair below threshold and lose it; the
    // consistent filtered-universe score keeps it at 1.0.
    val hotBlock = (1 to 30).map(i => s"hot$i").mkString(" ")
    val fillers = (1 to 60).map(i => (100L + i, s"$hotBlock filler${i}a filler${i}b"))
    val df = (Seq(
      (1L, s"$hotBlock alpha beta gamma delta"),
      (2L, s"$hotBlock alpha beta gamma delta")) ++ fillers)
      .toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.8, maxDocFreq = 50)
      .select("id_i", "id_j").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }
}
