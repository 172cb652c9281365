package graft

import graft.llm.{Pq, Similarity}
import graft.llm.Pq.PqParams
import org.apache.spark.sql.functions._

/** Product-quantization ANN (q138): codebook/encode invariants,
  * determinism, ADC ranking sanity, and recall floors against the
  * brute-force ground truth — for both the full-ADC scan and the
  * IVFADC (coarse-routed) composition.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf).cache()
  private lazy val probes = emb.filter(col("vec_id") % 100 === 0)
  private val p = PqParams()

  private lazy val cents = Pq.trainCodebooks(emb, "vec_id", "embedding", p)
  private lazy val bruteSet =
    Similarity.bruteTopK(emb, probes, "vec_id", "embedding", 10)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet

  test("codebook: m·ksub sub-centroids, each of dim/m components") {
    val rows = cents.collect()
    assert(rows.length === p.m * p.ksub)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    assert(rows.forall(_.getSeq[Float](2).length == dim / p.m))
    // every (sub, code) pair distinct, codes span 1..ksub
    val keys = rows.map(r => (r.getInt(0), r.getInt(1)))
    assert(keys.distinct.length === keys.length)
    assert(keys.map(_._2).min === 1 && keys.map(_._2).max === p.ksub)
  }

  test("encode: one codes row per vector, codes array of m in-range entries") {
    val enc = Pq.encode(emb, "vec_id", "embedding", cents, p).collect()
    assert(enc.length === emb.count())
    enc.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length === p.m)
      assert(codes.forall(c => c >= 1 && c <= p.ksub))
    }
  }

  test("encode of an empty frame: no rows, the codes schema") {
    val empty = Pq.encode(emb.filter(lit(false)), "vec_id", "embedding", cents, p)
    assert(empty.count() === 0L)
    val full = Pq.encode(emb, "vec_id", "embedding", cents, p)
    assert(empty.schema.map(f => (f.name, f.dataType)) ===
      full.schema.map(f => (f.name, f.dataType)))
    assert(empty.columns.toSeq === Seq("vec_id", "codes", "n2"))
  }

  test("encode of a centroid-aligned vector recovers its own codes") {
    // a vector stitched from one centroid per subspace must encode
    // to exactly those codes (distance 0 beats every other cell)
    val bySub = cents.collect().groupBy(_.getInt(0))
    val picked = (0 until p.m).map(s => bySub(s).minBy(_.getInt(1)))
    val stitched = picked.flatMap(_.getSeq[Float](2))
    val one = Seq((999999L, stitched)).toDF("vec_id", "embedding")
    val enc = Pq.encode(one, "vec_id", "embedding", cents, p).collect().head
    assert(enc.getSeq[Int](1) === picked.map(_.getInt(1)))
  }

  test("training and search are partition-invariant") {
    val shuffled = emb.repartition(7)
    val a = Pq.pqTopK(emb, probes, "vec_id", "embedding", 10, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val b = Pq.pqTopK(shuffled, probes.repartition(3), "vec_id", "embedding", 10, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(a.sortBy(t => (t._1, t._2)) === b.sortBy(t => (t._1, t._2)))
  }

  test("PQ-ADC: full top-10 per probe, no self, recall floor vs brute force") {
    val got = Pq.pqTopK(emb, probes, "vec_id", "embedding", 10, p)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.length === probes.count() * 10)
    assert(!got.exists(t => t._1 == t._2))
    val recall = bruteSet.count(got.toSet.contains).toDouble / bruteSet.size
    info(s"PQ-ADC recall@10 = $recall")
    // uniform random 64-dim data is the worst case for vector
    // quantization; the shortlist+exact-re-rank still has to beat
    // the q138 driver floor with margin
    assert(recall >= 0.5, s"PQ recall $recall")
  }

  test("IVFADC (coarse-routed) recall floor — the 100 TB composition") {
    val ip = p.copy(coarse = Some(Similarity.IvfParams(nCells = 16, nProbe = 8)))
    val got = Pq.pqTopK(emb, probes, "vec_id", "embedding", 10, ip)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(!got.exists(t => t._1 == t._2))
    val recall = bruteSet.count(got.toSet.contains).toDouble / bruteSet.size
    info(s"IVFADC recall@10 = $recall")
    assert(recall >= 0.2, s"IVFADC recall $recall")
  }

  test("a planted exact duplicate is retrieved at rank 1 with cosine ~1") {
    // its codes equal the original's codes, so ADC scores it at the
    // original's reconstruction similarity — comfortably shortlisted
    // — and the exact re-rank then lands it at the top
    val dup = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 5555500L).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(dup)
    val top = Pq.pqTopK(corpus, corpus.filter(col("vec_id") === 5555500L),
      "vec_id", "embedding", 1, p).collect().head
    assert(top.getLong(2) === 0L)
    assert(math.abs(top.getDouble(3) - 1.0) < 1e-9)
  }

  test("shortlistCap bounds the refine budget; recall floor holds at the cap") {
    // force the cap to bind: shortlist=5 and cap=8 ⇒ per-query exact
    // re-rank touches at most 8 candidates regardless of corpus size
    // (the fixed-refine-budget trade FAISS makes; uncapped this
    // corpus would re-rank max(50, n/100) per query)
    val capped = p.copy(shortlist = 5, shortlistCap = 8)
    val got = Pq.pqTopK(emb, probes, "vec_id", "embedding", 5, capped)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.length === probes.count() * 5)
    val brute5 = Similarity.bruteTopK(emb, probes, "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = brute5.count(got.toSet.contains).toDouble / brute5.size
    info(s"PQ-ADC capped (cap=8) recall@5 = $recall")
    // deterministic pipeline ⇒ stable measurement (0.20 at the spec
    // SF); the floor is what an 8-candidate refine buys on
    // worst-case uniform vectors, with margin for SF changes
    assert(recall >= 0.15, s"capped recall $recall")
  }

  test("ksub clamps to corpus size on a tiny corpus") {
    val tiny = emb.limit(5)
    val cb = Pq.trainCodebooks(tiny, "vec_id", "embedding", p)
    assert(cb.select("code").distinct().count() <= 5)
    val out = Pq.pqTopK(tiny, tiny.limit(1), "vec_id", "embedding", 3, p)
    assert(out.count() > 0)
  }

  test("indexTopK over a parquet round-trip equals the in-plan pqTopK") {
    // persist codebooks + codes, reload, serve — must be
    // bit-identical to the flat in-plan path: parquet preserves
    // float bits and assignment is a pure function of
    // (vector, codebooks)
    val root = tmpDir("pq_idx")
    graft.etl.Load.writeAtomic(spark, cents, s"$root/cb")
    graft.etl.Load.writeAtomic(spark,
      Pq.encode(emb, "vec_id", "embedding", cents, p), s"$root/codes")
    val cb = graft.etl.Load.readTable(spark, s"$root/cb")
    val codes = graft.etl.Load.readTable(spark, s"$root/codes")
    val served = Pq.indexTopK(cb, codes, emb, probes, "vec_id", "embedding", 10, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val inplan = Pq.pqTopK(emb, probes, "vec_id", "embedding", 10, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(served.sortBy(t => (t._1, t._2)) === inplan.sortBy(t => (t._1, t._2)))
  }

  test("indexTopK: external query ids colliding with corpus ids keep their candidate") {
    // an EXTERNAL query whose id happens to equal a corpus id must
    // not silently lose that (here: top-1, the vector itself) —
    // excludeSelf=false is the external-id-space mode
    val root = tmpDir("pq_ext")
    graft.etl.Load.writeAtomic(spark, cents, s"$root/cb")
    graft.etl.Load.writeAtomic(spark,
      Pq.encode(emb, "vec_id", "embedding", cents, p), s"$root/codes")
    val cb = graft.etl.Load.readTable(spark, s"$root/cb")
    val codes = graft.etl.Load.readTable(spark, s"$root/codes")
    val q = emb.filter(col("vec_id") === 0L) // same id AND same vector as corpus row 0
    val kept = Pq.indexTopK(cb, codes, emb, q, "vec_id", "embedding", 5, p,
      excludeSelf = false)
    val top1 = kept.filter(col("rnk") === 1L).collect().head
    assert(top1.getLong(2) === 0L, "colliding id must stay retrievable")
    assert(top1.getDouble(3) >= 0.999999)
    val dropped = Pq.indexTopK(cb, codes, emb, q, "vec_id", "embedding", 5, p)
    assert(dropped.filter(col("cand_id") === 0L).count() === 0L,
      "self-search mode still excludes the query row")
  }

  test("indexTopK refuses codebooks whose m disagrees with params") {
    val root = tmpDir("pq_m")
    graft.etl.Load.writeAtomic(spark, cents, s"$root/cb")
    val cb = graft.etl.Load.readTable(spark, s"$root/cb")
    val codes = Pq.encode(emb, "vec_id", "embedding", cents, p)
    val wrong = p.copy(m = p.m / 2)
    val e = intercept[IllegalArgumentException] {
      Pq.indexTopK(cb, codes, emb, probes, "vec_id", "embedding", 10, wrong)
    }
    assert(e.getMessage.contains("m="))
  }

  test("incremental encode with reloaded codebooks matches in-memory codes") {
    val root = tmpDir("pq_inc")
    graft.etl.Load.writeAtomic(spark, cents, s"$root/cb")
    val cb = graft.etl.Load.readTable(spark, s"$root/cb")
    val fresh = emb.filter(col("vec_id") % 3 === 0)
    val a = Pq.encode(fresh, "vec_id", "embedding", cents, p)
    val b = Pq.encode(fresh, "vec_id", "embedding", cb, p)
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
  }
}
