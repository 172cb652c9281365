package graft.queries

import graft.Tables
import graft.llm.{Dedup, Pq, Similarity, TextStats}
import org.apache.spark.sql.functions._
import QueryDefs._

/** LLM-training-data-pipeline operators (north star): text analysis,
  * dedup family, similarity search. Exact variants carry DuckDB
  * oracles; the LSH/SimHash approximate variants are registered
  * without oracles (rows-only driver check) and validated against
  * their exact counterparts in ScalaTest.
  */
object LlmQueries {

  val queries: Map[String, Q] = Map(
    // q27 — A9: corpus stats per language.
    "q27_text_stats" -> ((s, dir) => {
      val t = col("text")
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(t).cast("long")).as("sum_tokens"),
          (sum(TextStats.tokenCount(t).cast("long")).cast("double") / count(lit(1))).as("avg_tokens"),
          sum(TextStats.charCount(t).cast("long")).as("sum_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
    }),

    // q55 — A9: BPE-ish subword token counting per language — the
    // second half of the north-star token-counting pair (q27 counts
    // whitespace tokens). Ratio subword/word approximates tokens-per-
    // word fertility, the metric LLM data pipelines budget on.
    "q55_subword_stats" -> ((s, dir) => {
      val t = col("text")
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextStats.subwordCount(t).cast("long")).as("sum_subwords"),
          (sum(TextStats.subwordCount(t).cast("long")).cast("double") /
            sum(TextStats.tokenCount(t).cast("long")).cast("double")).as("subwords_per_word"))
        .orderBy("lang")
    }),

    // q117 — A9/LLM tier: REAL BPE tokenizer train + apply
    // (graft.llm.Bpe / functions.BpeEncode) — upgrades q55's regex
    // heuristic. Training is data-deterministic, so the learned
    // merge list can't go in a static oracle; instead the exact
    // corpus projections (word/char sums — DuckDB-computable) ride
    // with three deterministic in-plan PROOFS of the machinery
    // (§6.2 pattern): every doc's subwords concat back to its
    // space-stripped text (a full replay of the merge list on every
    // row), every subword count sits in [n_words, n_chars], and
    // every multi-char subword is an output of the learned merges.
    // A training or apply regression flips a flag → hash mismatch.
    "q117_bpe_tokenize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.llm.Bpe.trainFromCorpus(docs, "text",
        maxWords = 2000, nMerges = 200)
      val vocabOut = merges.map { case (a, b) => a + b }.distinct.sorted
      val sub = graft.llm.Bpe.encode(col("text"), merges)
      docs.select(col("lang"),
          size(filter(TextStats.tokens(col("text")), t => length(t) > 0))
            .cast("long").as("nw"),
          length(regexp_replace(col("text"), " ", "")).cast("long").as("nc"),
          regexp_replace(col("text"), " ", "").as("strip"),
          sub.as("sub"))
        .select(col("lang"), col("nw"), col("nc"),
          (concat_ws("", col("sub")) === col("strip")).as("rt"),
          (size(col("sub")).cast("long") <= col("nc") &&
            size(col("sub")).cast("long") >= col("nw")).as("cp"),
          forall(col("sub"), t => length(t) === 1 || t.isin(vocabOut: _*)).as("vo"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nw").as("n_words"),
          sum("nc").as("n_chars"),
          bool_and(col("rt")).as("roundtrip_ok"),
          bool_and(col("cp")).as("compress_ok"),
          bool_and(col("vo")).as("vocab_ok"))
        .orderBy("lang")
    }),

    // q28 — A9: heuristic language-ID vs the labeled lang.
    "q28_lang_id" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), TextStats.langGuess(col("text")).as("guess"))
        .groupBy("lang", "guess").agg(count(lit(1)).as("n"))
        .orderBy("lang", "guess")
    }),

    // q29 — A9: quality-score histogram (decile buckets).
    "q29_quality_hist" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(floor(TextStats.qualityScoreRaw(col("text")) * 10).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // q88 — document chunking (graft.llm.Chunking): overlapping
    // 32-token windows stepping by 24 — the context-window split
    // feeding training/retrieval pipelines. Shuffle-free per-row
    // expansion (plan pinned in ChunkingSpec); the oracle rebuilds
    // the identical windows with list slicing.
    "q88_chunking" -> ((s, dir) => {
      graft.llm.Chunking.chunk(Tables.documents(s, dir), col("text"),
          size = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
          col("n_tokens"))
        .orderBy("doc_id", "chunk_id")
    }),

    // q101 — duplicated n-gram SPAN coverage (graft.llm.Spans): the
    // substring-level dedup signal from the training-data-dedup
    // literature — per document, the maximal token runs covered by
    // an 8-gram that repeats ANYWHERE in the corpus, so curation can
    // cut boilerplate spans instead of whole documents. Postings →
    // repeated-hash aggregate → equi-join → one gaps-and-islands
    // window per doc; the oracle replays the identical algebra over
    // shingle strings (Spark hashes them — q31's 64-bit trade).
    "q101_dup_spans" -> ((s, dir) => {
      graft.llm.Spans.dupSpanReport(Tables.documents(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // q114 — DSIR importance weights (graft.llm.Importance): bigram
    // importance resampling with the English slice as the target
    // distribution — each doc's log weight says how much more its
    // features look like the target than the raw corpus. Feature
    // deltas are one fixed ln sequence each, scaled to exact longs;
    // per-doc weights are integer sums (the q107 discipline). The
    // hashed-bucket production form is ImportanceSpec-verified.
    "q114_dsir_weights" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val docs = Tables.documents(s, dir)
      graft.llm.Importance.logWeights(docs,
          docs.filter(col("lang") === "en"), "doc_id", "text")
        .select(col("doc_id"), col("n_feats"), col("logw9"), col("logw"))
        .orderBy("doc_id")
    }),

    // q115 — soft dedup via cluster down-weighting: instead of
    // dropping near-duplicates, weight every doc by 1/|its dup
    // cluster| (singletons weigh 1.0) — repetition-aware loss
    // weighting, the gentler alternative to q60's canonical-only
    // keep. Reuses the q31 pair graph and q60's components; the
    // weight is one IEEE division on integer cluster sizes.
    "q115_soft_dedup_weights" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      val comp = graft.llm.Cluster.connectedComponents(pairs, "id_i", "id_j")
      val sizes = comp.groupBy("component").agg(count(lit(1)).as("sz"))
      docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .join(sizes, Seq("component"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"),
          coalesce(col("sz"), lit(1L)).as("cluster_size"),
          // integer half-up of 1/sz at 6 decimals — round(double, 6)
          // diverges across engines on exact decimal midpoints
          // (cluster sizes like 128 or 3200 hit them); see
          // Importance.logWeights
          expr("CAST((2000000L + coalesce(sz, 1L))" +
            " div (2L * coalesce(sz, 1L)) AS DOUBLE) / 1e6").as("weight"))
        .orderBy("doc_id")
    }),

    // q107 — corpus-trained bigram LM scoring (graft.llm.LangModel):
    // the perplexity-style quality filter (KenLM lineage) — each doc
    // scored by its average add-one-smoothed bigram log-probability
    // under statistics trained on the corpus itself. Every bigram's
    // ln is one identical op sequence scaled to an exact LONG, so
    // the per-doc sum is order-independent integer arithmetic — the
    // only way a float LM score can hash-match across engines.
    "q107_bigram_lm" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      graft.llm.LangModel.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // q108 — per-document curation FEATURE STORE: the wide artifact
    // a pipeline materializes once and filters on repeatedly — the
    // scan-projection signals (tokens, quality blend, PII counts,
    // content fingerprint) joined with the three corpus-aggregate
    // signals: fingerprint copy count (exact-dup pressure), q101's
    // duplicated-span fraction, and q107's bigram-LM score. Four
    // doc-keyed joins over co-partitioned aggregates; every float
    // follows its source query's determinism contract.
    "q108_doc_features" -> ((s, dir) => {
      import graft.llm.Pii
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val docs = Tables.documents(s, dir)
      val t = col("text")
      // base feeds two consumers (fpCounts + the final join) and its
      // PII regex projections are the expensive part — barrier-cache
      // it so the scan+regex pass runs once, as the other
      // multi-consumer llm queries do.
      val base = graft.llm.BarrierCache.track(
        docs.select(col("doc_id"), col("lang"),
          TextStats.tokenCount(t).cast("long").as("n_tokens"),
          TextStats.qualityScore(t).as("quality"),
          (Pii.emailCount(t) + Pii.phoneCount(t) + Pii.ipCount(t))
            .cast("long").as("n_pii"),
          TextStats.fingerprint(t).as("fp")))
      val fpCounts = base.groupBy("fp").agg(count(lit(1)).as("n_fp_copies"))
      val spans = graft.llm.Spans.dupSpanReport(docs, "doc_id", "text", n = 8)
        .select(col("doc_id"), col("dup_frac"))
      val lm = graft.llm.LangModel.bigramLogProb(docs, "doc_id", "text")
        .select(col("doc_id"), col("avg_logprob"))
      base.join(fpCounts, Seq("fp"))
        .join(spans, Seq("doc_id"), "left")
        .join(lm, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"),
          col("n_pii"), col("n_fp_copies"), col("dup_frac"), col("avg_logprob"))
        .orderBy("doc_id")
    }),

    // q89 — BM25 lexical retrieval (graft.llm.Relevance): top-15
    // documents for a 3-term query. One corpus scan (tf/dl in the
    // scan projection), 1-row stats broadcast, TakeOrdered top-k —
    // the lexical sibling of the q34 embedding search. k1/b are
    // binary-exact doubles so the oracle's literals parse identical.
    "q89_bm25_search" -> ((s, dir) => {
      graft.llm.Relevance.bm25(Tables.documents(s, dir), "doc_id", "text",
          Seq("vector", "filter", "merge"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
    }),

    // q159 — INVERTED-INDEX LIFECYCLE for lexical search (the
    // q154/q158 storage discipline applied to BM25): q89 scores by
    // rescanning text, which at 100 TB means re-tokenizing the
    // corpus per query; the production shape PERSISTS the index —
    // sparse postings (doc, term, tf) + doc lengths — and serves
    // queries from it alone. The query builds the base index,
    // persists it, tokenizes ONLY the incremental batch and appends
    // its postings (the text of existing docs is never re-read),
    // then serves top-15 BM25 for a fresh 3-term query from the
    // reloaded union — N, Σdl, and every df derive from the index
    // tables, so corpus growth needs no stats rebuild. index_ok
    // pins in-plan that the reloaded postings equal a full-corpus
    // recompute (EXCEPT both ways = 0). The oracle replays BM25
    // over the full corpus text — the scan form and the served
    // index form share one float-op sequence (Relevance.score), so
    // scores match bit-for-bit.
    "q159_inverted_index_lifecycle" -> ((s, dir) => {
      import graft.llm.Relevance
      val docs = Tables.documents(s, dir)
      val base = docs.filter(col("doc_id") % 4 =!= 0)
      val fresh = docs.filter(col("doc_id") % 4 === 0)
      val root = java.nio.file.Files.createTempDirectory("graft_q159").toString
      graft.etl.Load.writeAtomic(s,
        Relevance.indexPostings(base, "doc_id", "text"), s"$root/post_v1")
      graft.etl.Load.writeAtomic(s,
        Relevance.indexDocLens(base, "doc_id", "text"), s"$root/len_v1")
      // the incremental batch: only fresh text is tokenized
      graft.etl.Load.writeAtomic(s,
        Relevance.indexPostings(fresh, "doc_id", "text"), s"$root/post_v2")
      graft.etl.Load.writeAtomic(s,
        Relevance.indexDocLens(fresh, "doc_id", "text"), s"$root/len_v2")
      val posts = graft.etl.Load.readTable(s, s"$root/post_v1")
        .unionByName(graft.etl.Load.readTable(s, s"$root/post_v2"))
      val lens = graft.etl.Load.readTable(s, s"$root/len_v1")
        .unionByName(graft.etl.Load.readTable(s, s"$root/len_v2"))
      val full = Relevance.indexPostings(docs, "doc_id", "text")
      // one ±1 union-aggregate instead of an exceptAll pair (each of
      // which re-evaluates BOTH index plans); identical boolean
      val indexOk = broadcast(
        posts.withColumn("__ms_w", lit(1L))
          .unionByName(full.select(posts.columns.map(col): _*)
            .withColumn("__ms_w", lit(-1L)))
          .groupBy(posts.columns.map(col): _*)
          .agg(sum(col("__ms_w")).as("__ms_w"))
          .agg(max(abs(col("__ms_w"))).as("__mx"))
          .select((coalesce(col("__mx"), lit(0L)) === 0L).as("index_ok")))
      Relevance.bm25FromIndex(posts, lens, "doc_id",
          Seq("hash", "scan", "batch"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
        .crossJoin(indexOk)
    }),

    // q95 — TF-IDF keyword extraction: top-3 terms per document by
    // tf·ln(N/df). The inverted shape (explode → (doc,term) counts →
    // df agg → term-keyed join) is the posting-list pipeline BM25's
    // scan form avoids — both shapes belong in the library; the df
    // side joins by term (vocabulary can exceed broadcast size at
    // corpus scale, so no forced broadcast), and the per-doc top-k is
    // a WindowGroupLimit, not a global sort. Ranking orders by the
    // ROUNDED score (ties broken by term) so both engines cut the
    // same top-3.
    "q95_tfidf_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val tf = docs
        .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val scored = tf.join(dfreq, "tok")
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("__n"))))
        .withColumn("score", round(col("tf").cast("double") *
          log(col("__n").cast("double") / col("df")), 6))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn").cast("long").as("rank"),
          col("tok"), col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "rank")
    }),

    // q97 — exact-K stratified sampling (Sampling.stratifiedK): the
    // 20 lowest-hash docs per language — the "N docs per stratum"
    // contract fraction sampling can't guarantee. WindowGroupLimit
    // keeps the shuffle at O(tasks·k·strata); the oracle replays the
    // same integer hash and window.
    "q97_stratified_sample" -> ((s, dir) => {
      graft.llm.Sampling.stratifiedK(Tables.documents(s, dir), "doc_id", "lang", k = 20)
        .select(col("lang"), col("rnk").as("rank"), col("doc_id"))
        .orderBy("lang", "rank")
    }),

    // q100 — hybrid retrieval via Reciprocal Rank Fusion: the q89
    // BM25 ranking and a classic TF-IDF vector-space ranking of the
    // SAME 3-term query, each truncated to its top-50 (TakeOrdered —
    // no global ranking; the 50-row window is a constant-size frame),
    // fused by rrf = Σ 1/(60+rank) over the union. Absent-from-one-
    // list docs contribute 0 from that list (standard truncated RRF).
    // All inputs to the fusion are small ints, each contribution one
    // IEEE division — no rounding needed for parity.
    "q100_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("vector", "filter", "merge")
      val docs = Tables.documents(s, dir)
      // list A: BM25 (q89 scorer)
      val wA = Window.orderBy(col("score").desc, col("doc_id"))
      val listA = graft.llm.Relevance.bm25(docs, "doc_id", "text", terms)
        .orderBy(col("score").desc, col("doc_id")).limit(50)
        .select(col("doc_id"), row_number().over(wA).cast("long").as("ra"))
      // list B: TF-IDF query score — tf(t,d)·ln(N/df(t)) summed over
      // the query terms (q95's weighting, query-scoped)
      val toks = TextStats.tokens(col("text"))
      val tfCols = terms.indices.map { i =>
        size(filter(toks, t => t === lit(terms(i)))).cast("long").as(s"__tf$i") }
      val base = docs.select((col("doc_id") +: tfCols): _*)
      val aggs = count(lit(1)).as("__n") +:
        terms.indices.map(i => sum((col(s"__tf$i") > 0).cast("long")).as(s"__df$i"))
      val stats = base.agg(aggs.head, aggs.tail: _*)
      val per = terms.indices.map { i =>
        col(s"__tf$i").cast("double") *
          log(col("__n").cast("double") / col(s"__df$i")) }
      val wB = Window.orderBy(col("score").desc, col("doc_id"))
      val listB = base.crossJoin(broadcast(stats))
        .select(col("doc_id"), round(per.reduceLeft(_ + _), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
        .select(col("doc_id"), row_number().over(wB).cast("long").as("rb"))
      listA.join(listB, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("ra"), col("rb"),
          (graft.llm.Relevance.rrfTerm(col("ra")) +
            graft.llm.Relevance.rrfTerm(col("rb"))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    }),

    // q30 — A9/A8: content fingerprint dedup per source.
    "q30_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          countDistinct(TextStats.fingerprint(col("text"))).as("n_fp"))
        .orderBy("source")
    }),

    // q48 — A9 + custom-aggregate tier: top-5 tokens per language
    // via a typed Aggregator[IN,BUF,OUT] (functions.TopKTokens,
    // exposed through functions.udaf), result exploded to ranked
    // rows with an exact window oracle.
    "q48_top_tokens" -> ((s, dir) => {
      val topk = udaf(graft.functions.TopKTokens(5))
      Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy("lang")
        .agg(topk(col("token")).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.token").as("token"), col("col.n").as("n"))
        .orderBy("lang", "rnk")
    }),

    // q56 — A9 sketch tier: bounded-memory space-saving top-5 tokens
    // per language (TopKTokensSketch), made oracle-checkable: rows
    // are the EXACT top-5 head (the q48 contract) and `bound_ok`
    // asserts, per token, the sketch invariant est - err ≤ true ≤ est.
    // Head membership is only REQUIRED above the space-saving
    // survival guarantee (count > N/capacity, N = tokens in the
    // lang): below it a near-tied head token can legitimately miss
    // the sketch's top-5, so est-null there is accepted rather than
    // flipping the flag on a data refresh. DuckDB emits the exact
    // head + TRUE, so a real sketch regression (lost mass, broken
    // merge, a guaranteed-survivor missing) still fails the hash
    // compare. Raw estimates stay covered by TopKSketchSpec.
    "q56_top_tokens_sketch" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val capacity = 256
      val topk = udaf(graft.functions.TopKTokensSketch(5, capacity))
      val toks = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      val sk = toks
        .groupBy("lang").agg(topk(col("token")).as("top"))
        .select(col("lang"), explode(col("top")).as("e"))
        .select(col("lang"), col("e.token").as("token"),
          col("e.est").as("est"), col("e.err").as("err"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("token"))
      val counts = toks.groupBy("lang", "token").agg(count(lit(1)).as("n"))
      val exact = counts
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("tot", sum(col("n")).over(Window.partitionBy("lang")))
        .filter(col("rnk") <= 5)
      exact.join(sk, Seq("lang", "token"), "left")
        .select(col("lang"), col("rnk"), col("token"), col("n"),
          (when(col("est").isNotNull,
            col("est") >= col("n") && col("est") - col("err") <= col("n"))
            .otherwise(col("n") <= col("tot") / capacity)).as("bound_ok"))
        .orderBy("lang", "rnk")
    }),

    // q31 — A8: exact 3-gram Jaccard near-dup pairs (inverted
    // shingle index — the scalable exact formulation).
    "q31_ngram_jaccard" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy("id_i", "id_j")
    }),

    // q32 — A8: MinHash+banded-LSH near-dup with exact verification;
    // same output contract (and oracle) as q31 — LSH prunes the pair
    // space, and at 32×4 banding the candidate-miss probability at
    // the 0.8 threshold is ≈5e-8 (see MinHashParams), so equality
    // with the exact oracle holds in practice at any data refresh.
    "q32_minhash_neardup" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy("id_i", "id_j")
    }),

    // q102 — A8: exact Jaccard set-similarity join via PREFIX
    // FILTERING (operators.SetSimJoin) — the LOSSLESS candidate
    // scheme (AllPairs/PPJoin): candidates come only from the short
    // rarest-element prefixes, so the hot-shingle join skew q31
    // bounds with maxDocFreq never forms in the first place, and
    // unlike MinHash (q32) there is no residual miss probability.
    // Same 3-gram universe, threshold (0.8 = 4/5, all-integer
    // bounds) and output contract as q31 — all three share ONE
    // cached hashed-shingle index and one oracle.
    "q102_prefix_jaccard" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val post = Dedup.hashedShingles(Tables.documents(s, dir), "doc_id", "text", n = 3)
      graft.operators.SetSimJoin.jaccardJoin(post, "doc_id", "h", num = 4, den = 5)
        .orderBy("id_i", "id_j")
    }),

    // q33 — A8: SimHash near-dup (pigeonhole-blocked candidates).
    // The hash family is not reproducible in DuckDB, so the query is
    // made oracle-checkable STRUCTURALLY (the q45 construction):
    // plant an exact copy of every 5th document — identical text ⇒
    // identical signature ⇒ distance 0 ⇒ the pipeline (signature,
    // block split, equi-join, hamming verify) must find precisely
    // the planted pairs. A DuckDB oracle enumerates them; any miss
    // is a hash/row mismatch. Organic near-dup behavior stays
    // covered by DedupSpec.
    "q33_simhash_neardup" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val copies = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      Dedup.simhashNearDups(docs.unionByName(copies), "doc_id", "text", maxDist = 3)
        .filter(col("id_j") - col("id_i") === 1000000)
        .select(col("id_i"), col("id_j"), col("dist").cast("long").as("dist"))
        .orderBy("id_i", "id_j")
    }),

    // q60 — A8, cluster tier: near-dup pairs (q31's exact edge set)
    // clustered into duplicate groups via distributed connected
    // components (large-star/small-star — O(log n) shuffle rounds,
    // no driver-side graph). component = min doc_id reachable =
    // the canonical document a 100 TB dedup keeps.
    "q60_neardup_clusters" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val pairs = Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.8)
      graft.llm.Cluster.connectedComponents(pairs, "id_i", "id_j")
        .select(col("id").cast("long").as("doc_id"),
          col("component").cast("long").as("component"),
          (col("id") === col("component")).as("is_canonical"))
        .orderBy("doc_id")
    }),

    // q61 — LLM-pipeline tier: PII scrub (graft.llm.Pii). The
    // synthetic corpus carries no natural PII, so the query PLANTS
    // emails/phones/IPs by a pure doc_id rule (the q33/q45 planted
    // construction, mirrored in the oracle) — the detector and the
    // redactor must then find and mask exactly those. Counts,
    // redacted-doc tally, and the redaction length delta are all
    // integers, so the oracle compare is exact.
    "q61_pii_scrub" -> ((s, dir) => {
      import graft.llm.Pii
      val planted = Tables.documents(s, dir).withColumn("t",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call 555-010-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
              lit("."), (col("doc_id") % 100).cast("string")))
            .otherwise(lit(""))))
      val t = col("t")
      planted
        .select(col("lang"),
          Pii.emailCount(t).cast("long").as("ne"),
          Pii.phoneCount(t).cast("long").as("np"),
          Pii.ipCount(t).cast("long").as("ni"),
          (length(t) - length(Pii.redact(t))).cast("long").as("delta"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("ne").as("n_emails"),
          sum("np").as("n_phones"),
          sum("ni").as("n_ips"),
          sum((col("ne") + col("np") + col("ni") > 0).cast("long")).as("n_redacted_docs"),
          sum("delta").as("chars_delta"))
        .orderBy("lang")
    }),

    // q62 — A9, quality tier: Gopher-style repetition signals per
    // language — duplicate-token and duplicate-bigram mass plus the
    // top-token concentration, with >20% flags. Everything is
    // integer sums and integer threshold comparisons (mass > 0.2 ⇔
    // 5·count > total), so the oracle compare is exact; the Spark
    // side stays a pure per-row HOF projection (no explode shuffle).
    "q62_repetition_stats" -> ((s, dir) => {
      val t = col("text")
      Tables.documents(s, dir)
        .select(col("lang"),
          TextStats.tokenCount(t).cast("long").as("ntok"),
          size(array_distinct(TextStats.tokens(t))).cast("long").as("ndis"),
          greatest(TextStats.tokenCount(t) - 1, lit(0)).cast("long").as("nbig"),
          TextStats.distinctBigramCount(t).cast("long").as("ndisbi"),
          TextStats.topTokenCount(t).cast("long").as("maxc"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("ntok").as("sum_tokens"),
          sum("ndis").as("sum_distinct_tokens"),
          sum("nbig").as("sum_bigrams"),
          sum("ndisbi").as("sum_distinct_bigrams"),
          sum((col("maxc") * 5 > col("ntok")).cast("long")).as("n_flagged_top"),
          sum(((col("nbig") - col("ndisbi")) * 5 > col("nbig")).cast("long")).as("n_flagged_rep"))
        .orderBy("lang")
    }),

    // q63 — LLM-pipeline tier: benchmark decontamination. Docs with
    // doc_id % 23 == 0 stand in for the eval suite; any other doc
    // sharing a word 4-gram with them is flagged as contaminated and
    // counted per language. The eval side broadcasts (it is tiny by
    // construction at any corpus scale), so the corpus pays one scan
    // and no shingle shuffle.
    "q63_decontaminate" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 23 === 0)
      val train = docs.filter(col("doc_id") % 23 =!= 0)
      val cont = graft.llm.Decontaminate.contaminated(train, bench, "doc_id", "text", n = 4)
        .withColumn("c", lit(1L))
      train.join(cont, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_train"),
          sum(coalesce(col("c"), lit(0L))).as("n_contaminated"))
        .orderBy("lang")
    }),

    // q64 — LLM-pipeline tier: sequence packing into 4096-token
    // training shards (graft.llm.Packing — distributed two-pass
    // prefix sum, NO single-partition window). Shard stats are all
    // integers; the oracle mirrors with a plain window cumsum, which
    // the distributed offsets must equal exactly.
    "q64_sequence_packing" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val packed = graft.llm.Packing.packShards(
        Tables.documents(s, dir), "doc_id", TextStats.tokenCount(col("text")),
        budget = 4096L)
      packed.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("tok").as("n_tokens"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
        .orderBy("shard")
    }),

    // q65 — composition flagship v2: the full curation funnel a
    // training build runs, every stage exact and already verified
    // standalone — quality filter (q29) → exact content dedup (q30,
    // min id wins) → NEAR-dup clustering keep-canonical (q31 pairs +
    // q60 components) → benchmark decontamination (q63) → weighted
    // language mix (q58) → sequence packing into 4096-token shards
    // (q64). Output is per-shard integer stats; the oracle mirrors
    // the whole funnel in one SQL (recursive CTE + window cumsum).
    "q65_curation_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val w = Map("en" -> 0.8, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.3, "zh" -> 1.0)
      val docs = Tables.documents(s, dir)
      val quality = docs.filter(TextStats.qualityScoreRaw(col("text")) >= 0.5)
      // barrier: three consumers (two survivor semi-joins + the
      // canonical keep) would each re-run the quality filter and the
      // fingerprint window without it
      val exactDeduped = graft.llm.BarrierCache.track(quality
        .withColumn("__rn", row_number().over(
          Window.partitionBy(TextStats.fingerprint(col("text"))).orderBy("doc_id")))
        .filter(col("__rn") === 1).drop("__rn"))
      // Jaccard is a pure pair function, so pairs-among-survivors ==
      // pairs-on-the-full-corpus restricted to surviving endpoints.
      // Computing on the full corpus shares ONE cached shingle index
      // and pair set with q31/q32 (CacheManager dedupes the identical
      // plan) — the production shape: build the pair graph once,
      // reuse it for reporting AND curation.
      val survivors = exactDeduped.select(col("doc_id"))
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
        .join(survivors.toDF("id_i"), Seq("id_i"), "left_semi")
        .join(survivors.toDF("id_j"), Seq("id_j"), "left_semi")
      val dropNonCanonical = graft.llm.Cluster.connectedComponents(pairs, "id_i", "id_j")
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      val canonical = exactDeduped.join(dropNonCanonical, Seq("doc_id"), "left_anti")
      val bench = docs.filter(col("doc_id") % 23 === 0)
      val contaminated = graft.llm.Decontaminate.contaminated(
        canonical.filter(col("doc_id") % 23 =!= 0), bench, "doc_id", "text", n = 4)
      val clean = canonical.filter(col("doc_id") % 23 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
      val mixed = graft.llm.Sampling.weightedSample(clean, "doc_id", "lang", w)
      graft.llm.Packing.packShards(mixed, "doc_id",
          TextStats.tokenCount(col("text")), budget = 4096L)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("tok").as("n_tokens"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
        .orderBy("shard")
    }),

    // q45 — A8/A10: embedding-cosine near-dup. The testdata
    // embeddings are pure random (no natural pairs ≥ 0.95), so the
    // query plants exact copies of every 5th vector at id+1e7 (headroom
    // far beyond any scale tier, like q33; same construction
    // in the oracle) — the LSH-candidate + exact-verify machinery must
    // find precisely those pairs (identical vectors share all buckets,
    // recall is structural, not probabilistic).
    "q45_embedding_neardup" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val copies = emb.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 10000000).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDups(emb.unionByName(copies), "vec_id", "embedding",
          threshold = 0.95)
        .orderBy("id_i", "id_j")
    }),

    // q116 — A8 semantic tier: SemDeDup (k-means over embeddings →
    // within-cluster cosine prune) — the paraphrase-duplicate shape
    // the lexical dedup family can't see. Planted exact copies
    // (every 7th vector at id+2e7, q45's construction): identical
    // vectors are assigned identically by the deterministic k-means,
    // so cluster-recall of the planted pairs is structural. The gate
    // restricts BOTH sides to the planted pairs (id_drop = id_keep +
    // 2e7): a genuine near-pair of distinct vectors that straddles
    // clusters at some future SF is the documented SemDeDup recall
    // trade, not a correctness bug, and must not flip the hash gate
    // — full-output equivalence to brute force stays pinned in
    // SemDedupSpec. If the clustering machinery breaks (copies
    // straddle clusters), planted pairs vanish and the row-count +
    // hash check fails. Scores are the exact integer cosine triple
    // (qdot, n2_i, n2_j) — engine-portable, no round(double, 6).
    "q116_semantic_dedup" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val copies = emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 20000000).as("vec_id"), col("embedding"))
      graft.llm.SemDedup.semanticDups(emb.unionByName(copies),
          "vec_id", "embedding", threshold = 0.95, k = 8, iters = 3)
        .filter(col("id_drop") === col("id_keep") + 20000000L)
        .orderBy("id_keep", "id_drop")
    }),

    // q136 — A8 semantic tier, the SemDeDup ROUTING-RECALL gauge:
    // q116's planted pairs are identical vectors, so their recovery
    // is structural at any k (identical sims + tie-breaks co-route)
    // and measures nothing about the two-level IVF routing trade.
    // This query plants NEAR-duplicates instead — every 7th vector at
    // id+3e7 with component 0 NEGATED (exactly replayable in both
    // engines: qi(-x) = -qi(x) under half-away-from-zero rounding) —
    // whose cosines land in [0.7, 1) and which therefore CAN straddle
    // coarse cells. Output rows are the brute-computed planted-pair
    // truth (cos ≥ 0.9, exact integer triple — DuckDB-computable with
    // a per-vector scan: qdot = n2 − 2·qi(v₀)²), carrying two
    // deterministic flags, the q35/q47 pattern:
    //   exact_ok  — the UNROUTED flat-assignment pipeline recovers
    //               ≥ 60% of the truth (k-means cell recall: near
    //               pairs can straddle fine cells — the base SemDeDup
    //               trade, Abbas et al. §3, independent of routing);
    //   routed_ok — the two-level ROUTED pipeline (routeAbove=4, so
    //               routing engages at every SF) recovers ≥ 90% of
    //               what the exact assignment recovers — the
    //               previously-unmeasured IVF routing recall
    //               (SemDedup.scala nearestRouted's documented
    //               approximation contract, now gauged in-plan).
    // Everything is seeded/deterministic, so the flags are
    // reproducible; a routing-recall regression flips routed_ok and
    // the driver's hash check catches it. Tighter measured floors
    // (and the measured recall values) are pinned in SemDedupSpec.
    "q136_semdedup_recall" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val negFirst = transform(col("embedding"),
        (x, i) => when(i === 0, -x).otherwise(x))
      val near = emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 30000000L).as("vec_id"),
          negFirst.as("embedding"))
      val corpus = emb.unionByName(near)
      val truth = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id").as("id_keep"),
          (col("vec_id") + 30000000L).as("id_drop"),
          Similarity.qdot(col("embedding"), negFirst).as("qdot"),
          Similarity.qnorm2(col("embedding")).as("n2_i"),
          Similarity.qnorm2(negFirst).as("n2_j"))
        .filter(Similarity.cosine(col("qdot"), col("n2_i"), col("n2_j")) >= 0.9)
      def plantedFound(routeAbove: Int, mark: String) =
        graft.llm.SemDedup.semanticDups(corpus, "vec_id", "embedding",
            threshold = 0.9, k = 8, iters = 3, routeAbove = routeAbove,
            initHash = Some(true))
          .filter(col("id_drop") === col("id_keep") + 30000000L)
          .select(col("id_keep"), col("id_drop"), lit(1L).as(mark))
      val w = Window.partitionBy(lit(1))
      truth
        .join(plantedFound(Int.MaxValue, "__e"), Seq("id_keep", "id_drop"), "left")
        .join(plantedFound(4, "__r"), Seq("id_keep", "id_drop"), "left")
        .withColumn("exact_ok",
          sum(coalesce(col("__e"), lit(0L))).over(w) * lit(100L) >=
            count(lit(1)).over(w) * lit(60L))
        .withColumn("routed_ok",
          sum(coalesce(col("__r"), lit(0L))).over(w) * lit(100L) >=
            sum(coalesce(col("__e"), lit(0L))).over(w) * lit(90L))
        .select(col("id_keep"), col("id_drop"), col("qdot"),
          col("n2_i"), col("n2_j"), col("exact_ok"), col("routed_ok"))
        .orderBy("id_keep")
    }),

    // q34 — A10: brute-force cosine top-10 for 5 probe vectors
    // (quantized-integer dot products — bit-exact scores).
    "q34_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rnk")
    }),

    // q35 — A10: LSH-pruned ANN top-10, made oracle-checkable: the
    // output rows are the EXACT brute-force top-10 (the q34
    // contract, DuckDB-computable) carrying a deterministic
    // `recall_ok` flag — the ANN twin runs in the same plan and the
    // flag asserts its aggregate recall@10 ≥ threshold (everything
    // is seeded, so the flag is reproducible; a recall regression
    // flips it and the driver's hash check catches it). Tighter
    // per-run recall floors stay in SimilaritySpec.
    "q35_ann_lsh_topk" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") % 100 === 0)
      annWithRecall(
        Similarity.bruteTopK(emb, probes, "vec_id", "embedding", k = 10),
        Similarity.lshTopK(emb, probes, "vec_id", "embedding", k = 10),
        minRecall = 0.3)
    }),

    // q47 — A10: IVF-flat ANN top-10 (sampled codebook, nProbe
    // cells), oracle-checkable the same way as q35. Random uniform
    // embeddings are the worst case for coarse quantization (no
    // cluster structure), so the floor is low — the flag guards
    // "machinery broke", the spec guards the finer recall bar.
    "q47_ann_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") % 100 === 0)
      annWithRecall(
        Similarity.bruteTopK(emb, probes, "vec_id", "embedding", k = 10),
        Similarity.ivfTopK(emb, probes, "vec_id", "embedding", k = 10),
        minRecall = 0.05)
    }),

    // q138 — A10, the PQ/ADC scale path (Jégou et al. TPAMI 2011 —
    // the FAISS index family): corpus vectors compress to m
    // per-subspace centroid codes, queries score candidates through
    // a broadcast lookup table over the codes (never the raw
    // floats), and only a per-query shortlist is exactly re-ranked.
    // Oracle-checkable the q35/q47 way: rows are the exact
    // brute-force top-10, the flag asserts the PQ pipeline's
    // aggregate recall@10. Uniform random embeddings are the
    // hardest case for vector quantization (no cluster structure to
    // exploit), so the driver floor guards "machinery broke";
    // PqSpec pins the measured recall tighter.
    "q138_ann_pq_topk" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") % 100 === 0)
      annWithRecall(
        Similarity.bruteTopK(emb, probes, "vec_id", "embedding", k = 10),
        Pq.pqTopK(emb, probes, "vec_id", "embedding", k = 10,
          // ksub=64 is the scaled-down analog of FAISS's standard
          // 256-centroid byte codes (our gated corpora are 500-50k
          // vectors; 256 would out-number the sf0.01 training set).
          // Measured recall@10: 0.92 at sf0.01, 0.64 at sf0.1 —
          // the 0.3 floor guards "machinery broke" across SFs.
          Pq.PqParams(ksub = 64)),
        minRecall = 0.3)
    }),

    // q154 — ANN INDEX LIFECYCLE end-to-end (the q152 pattern for
    // the vector tier): q138 proves PQ-ADC in-plan; this drives the
    // FAISS production lifecycle through the ACTUAL storage seam —
    // train codebooks on the base corpus, PERSIST codebooks + the
    // m-codes-per-row compressed index via Load.writeAtomic, then
    // encode an incremental batch with the codebooks READ BACK from
    // parquet (no retrain — assignment is a pure function of
    // (vector, codebooks), and float bits round-trip parquet
    // exactly), union the two index generations, and serve ADC
    // top-k against the persisted index. lifecycle_ok pins the
    // round-trip in-plan: the reloaded index covers every corpus
    // row and the fresh batch's disk-codebook codes are IDENTICAL
    // to in-memory-codebook codes (EXCEPT-count 0). Output rows are
    // the exact brute-force top-10 (DuckDB-computable); recall_ok
    // asserts the served index's aggregate recall like q138.
    "q154_ann_index_lifecycle" -> ((s, dir) => {
      import graft.llm.Pq
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(col("vec_id") % 3 =!= 0)
      val fresh = emb.filter(col("vec_id") % 3 === 0)
      val p = Pq.PqParams(ksub = 64)
      val root = java.nio.file.Files.createTempDirectory("graft_q154").toString
      val cents = Pq.trainCodebooks(base, "vec_id", "embedding", p)
      graft.etl.Load.writeAtomic(s, cents, s"$root/codebooks")
      graft.etl.Load.writeAtomic(s,
        Pq.encode(base, "vec_id", "embedding", cents, p), s"$root/codes_v1")
      // ... the incremental batch arrives later: only the STORED
      // codebooks are available
      val centsBack = graft.etl.Load.readTable(s, s"$root/codebooks")
      graft.etl.Load.writeAtomic(s,
        Pq.encode(fresh, "vec_id", "embedding", centsBack, p), s"$root/codes_v2")
      val index = graft.etl.Load.readTable(s, s"$root/codes_v1")
        .unionByName(graft.etl.Load.readTable(s, s"$root/codes_v2"))
      val probes = emb.filter(col("vec_id") % 100 === 0)
      val served = Pq.indexTopK(centsBack, index, emb, probes,
        "vec_id", "embedding", k = 10, p)
      val roundTrip = Pq.encode(fresh, "vec_id", "embedding", cents, p)
        .exceptAll(graft.etl.Load.readTable(s, s"$root/codes_v2"))
      val lifecycle = broadcast(
        index.select(count(lit(1)).as("__nidx"))
          .crossJoin(emb.select(count(lit(1)).as("__nemb")))
          .crossJoin(roundTrip.select(count(lit(1)).as("__ndiff")))
          .select((col("__nidx") === col("__nemb") &&
            col("__ndiff") === 0L).as("lifecycle_ok")))
      annWithRecall(
        Similarity.bruteTopK(emb, probes, "vec_id", "embedding", k = 10),
        served, minRecall = 0.3)
        .crossJoin(lifecycle)
        .orderBy("query_id", "rnk")
    }),

    // q185 — CDF-MAINTAINED ANN INDEX with forget propagation (the
    // lakehouse × vector-serving composition: q154's persisted PQ
    // index kept fresh from the corpus table's CHANGE FEED instead of
    // corpus re-encodes — the q180 discipline lifted to the ANN
    // tier). The embeddings corpus lives in a snapshot table; the
    // codebooks train ONCE on v1 and persist; then the corpus takes
    // an append (new crawl batch) and a merge-on-read deleteWhere
    // (the GDPR purge — zero file rewrites), and each version's feed
    // maintains the codes store: insert rows carry their vectors, so
    // encoding costs CHURN ONLY from the STORED codebooks (assignment
    // is a pure function of (vector, codebooks)); delete rows
    // anti-join out — which is how a right-to-be-forgotten purge
    // PROPAGATES to the serving index without touching the other
    // 100 TB. store_matches_rebuild pins the maintained store
    // row-identical to re-encoding the final corpus from the same
    // codebooks; forget_propagated pins zero purged ids serving.
    // Output rows are the exact brute-force top-10 over the final
    // corpus (DuckDB-replayable); recall_ok gates the served index
    // like q138/q154.
    "q185_cdf_ann_index" -> ((s, dir) => {
      import graft.llm.Pq
      import graft.etl.Snapshots
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val emb = Tables.embeddings(s, dir)
      val p = Pq.PqParams(ksub = 64)
      val root = java.nio.file.Files.createTempDirectory("graft_q185").toString
      val v1 = Snapshots.commitWithStats(s,
        emb.filter(col("vec_id") % 3 =!= 0)
          .repartitionByRange(8, col("vec_id"))
          .sortWithinPartitions("vec_id"), root, Seq("vec_id"))
      graft.etl.Load.writeAtomic(s,
        Pq.trainCodebooks(Snapshots.read(s, root, Some(v1)),
          "vec_id", "embedding", p), s"$root/_index/codebooks")
      val cents = graft.etl.Load.readTable(s, s"$root/_index/codebooks")
      var store = Pq.encode(Snapshots.read(s, root, Some(v1)),
        "vec_id", "embedding", cents, p).localCheckpoint()
      Snapshots.append(s, emb.filter(col("vec_id") % 3 === 0),
        root, Seq("vec_id"))
      val r = Snapshots.deleteWhere(s, root, col("vec_id") % 11 === 5)
      (v1 + 1).to(r.version).foreach { v =>
        val feed = Snapshots.changes(s, root, v - 1, v).df.localCheckpoint()
        val afterDel = store
          .join(feed.filter(col("_change_type") === "delete")
            .select("vec_id"), Seq("vec_id"), "left_anti")
        val ins = feed.filter(col("_change_type") === "insert")
        // a delete-only version (the purge) encodes an empty batch
        store = afterDel.unionByName(Pq.encode(ins, "vec_id", "embedding", cents, p))
          .localCheckpoint()
      }
      val corpus = Snapshots.read(s, root)
      val rebuilt = Pq.encode(corpus, "vec_id", "embedding", cents, p)
      val matches = sameMultiset(store, rebuilt)
      val forgotten = store.filter(col("vec_id") % 11 === 5).count() == 0L
      val probes = emb.filter(col("vec_id") % 100 === 0)
      val served = Pq.indexTopK(cents, store, corpus, probes,
        "vec_id", "embedding", k = 10, p)
      annWithRecall(
        Similarity.bruteTopK(corpus, probes, "vec_id", "embedding", k = 10),
        served, minRecall = 0.3)
        .withColumn("store_matches_rebuild", lit(matches))
        .withColumn("forget_propagated", lit(forgotten))
        .orderBy("query_id", "rnk")
    }),

    // q58 — LLM-pipeline tier: deterministic weighted corpus mixing
    // (graft.llm.Sampling). The sample membership is a pure integer
    // function of doc_id, so the EXACT same rows select in DuckDB —
    // full oracle, no tolerance flags — and a 100 TB rebuild or
    // incremental top-up reproduces the mixture bit-for-bit (unlike
    // rand()/df.sample, which shift with partitioning).
    "q58_weighted_sample" -> ((s, dir) => {
      val w = Map("en" -> 0.8, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.3, "zh" -> 1.0)
      val docs = Tables.documents(s, dir)
      val sampled = graft.llm.Sampling.weightedSample(docs, "doc_id", "lang", w)
      docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .join(sampled.groupBy("lang")
          .agg(count(lit(1)).as("n_sampled"),
            sum(TextStats.tokenCount(col("text")).cast("long")).as("sampled_tokens")),
          Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
        .orderBy("lang")
    }),

    // q59 — LLM-pipeline tier, composition flagship: build a training
    // shard end-to-end — quality filter (q29's score) → exact
    // content dedup (q30's fingerprint, min doc_id wins) → weighted
    // language mix (q58's sampler) → deterministic train/val/test
    // split. Every stage is exact, so the whole composition carries
    // a full hash oracle.
    "q59_training_shard" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Map("en" -> 0.8, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.3, "zh" -> 1.0)
      val docs = Tables.documents(s, dir)
      val quality = docs.filter(TextStats.qualityScoreRaw(col("text")) >= 0.5)
      val deduped = quality
        .withColumn("__rn", row_number().over(
          Window.partitionBy(TextStats.fingerprint(col("text")))
            .orderBy("doc_id")))
        .filter(col("__rn") === 1)
      val sampled = graft.llm.Sampling.weightedSample(deduped, "doc_id", "lang", w)
      sampled
        .withColumn("split", graft.llm.Sampling.splitOf(col("doc_id")))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .orderBy("lang", "split")
    }),

    // q66 — A10 storage tier: symmetric int8 embedding quantization
    // (the 4× shrink before ANN indexing). Emits per-label integer
    // sums over the quantized domain plus the structural invariants
    // (every |q_i| ≤ 127, per-vector max exactly 127) as counted
    // violations — n_bad must be 0, and any quantizer drift flips
    // integer sums, failing the hash compare.
    "q66_int8_quantize" -> ((s, dir) => {
      val qv = Similarity.quantizeInt8(col("embedding"))
      Tables.embeddings(s, dir)
        .select(col("label"), qv.as("q"))
        .select(col("label"),
          aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("sq"),
          size(filter(col("q"), v => abs(v) === 127)).cast("long").as("sat"),
          (size(filter(col("q"), v => abs(v) > 127)) === 0 &&
            (array_max(transform(col("q"), v => abs(v))) === 127 ||
              array_max(transform(col("q"), v => abs(v))) === 0)).as("ok"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum("sq").as("sum_q"),
          sum("sat").as("n_sat"),
          sum((!col("ok")).cast("long")).as("n_bad"))
        .orderBy("label")
    }),

    // q70 — decontamination for a bench side too big to broadcast
    // exactly: Bloom-filter pre-prune (no false negatives) + exact
    // shuffled semi-join clears the ~1% false positives. Result is
    // row-identical to q63 — same oracle.
    "q70_decontaminate_bloom" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 23 === 0)
      val train = docs.filter(col("doc_id") % 23 =!= 0)
      val cont = graft.llm.Decontaminate.contaminatedBloom(train, bench,
          "doc_id", "text", n = 4, expectedItems = 1L << 20, fpp = 0.01)
        .withColumn("c", lit(1L))
      train.join(cont, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_train"),
          sum(coalesce(col("c"), lit(0L))).as("n_contaminated"))
        .orderBy("lang")
    }),

    // q72 — the shard-partial sketch pattern: per-shard HLL sketches
    // (what a 100 TB pipeline would PERSIST) merge at query time
    // into per-lang distinct estimates without re-touching raw data.
    // Two independent shardings both merge within the accuracy
    // envelope of the exact count — the flags a sketch regression
    // would flip. The union estimate is NOT sharding-invariant
    // bit-for-bit (sparse partials union exactly; dense ones
    // estimate via slot-max + composite estimator), so the contract
    // is per-sharding determinism + the envelope, never equality
    // across granularities.
    "q72_hll_shards" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def mergedBy(shard: org.apache.spark.sql.Column, out: String) =
        docs.groupBy(col("lang"), shard.as("__shard"))
          .agg(hll_sketch_agg(col("doc_id"), 12).as("sk"))
          .groupBy("lang")
          .agg(hll_sketch_estimate(
            hll_union_agg(col("sk"), allowDifferentLgConfigK = false)).as(out))
      val bySource = mergedBy(col("source"), "est_a")
      val byMod = mergedBy(pmod(col("doc_id"), lit(7L)), "est_b")
      val exact = docs.groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("exact_docs"),
          count(lit(1)).as("n_docs"))
      def ok(est: String) =
        abs(col(est) - col("exact_docs")).cast("double") <=
          col("exact_docs") * lit(0.05)
      exact.join(bySource, Seq("lang")).join(byMod, Seq("lang"))
        .select(col("lang"), col("exact_docs"), col("n_docs"),
          ok("est_a").as("hll_source_ok"), ok("est_b").as("hll_mod_ok"))
        .orderBy("lang")
    }),

    // q74 — fixed-size weight-proportional sampling (A-Res with
    // integer weights, min-of-w md5 uniforms): the exact 3-doc
    // sample per lang, reproducible in plain SQL — the fixed-COUNT
    // complement of q58's fixed-fraction mixing.
    "q74_weighted_topk_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("wt", lit(1L) + pmod(col("doc_id"), lit(5L)))
      graft.llm.Sampling.weightedBottomK(docs, "doc_id", "lang", col("wt"), k = 3)
        .select(col("lang"), col("doc_id"), col("wt"), col("rnk"))
        .orderBy("lang", "rnk")
    }),

    // q36 — A10: per-label embedding norm stats (exact integer
    // norms; one deterministic division at the end).
    "q36_embedding_norms" -> ((s, dir) => {
      val n2 = Similarity.qnorm2(col("embedding"))
      Tables.embeddings(s, dir)
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(n2).as("sum_n2"),
          (sum(n2).cast("double") / lit(1000000000000.0) / count(lit(1))).as("avg_norm2"))
        .orderBy("label")
    }),

    // q118 — A9/LLM tier: Gopher-style per-rule quality report
    // (graft.llm.QualityRules; Rae et al. 2021 A1.1). One codegen'd
    // scan projection — every rule verdict is auditable per-doc,
    // unlike q29's blended scalar. All rounded ratios are ExactRound
    // integer-half-up of exact ints → bit-stable oracle at any SF.
    "q118_gopher_rules" -> ((s, dir) => {
      graft.llm.QualityRules.report(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // q119 — graded n-gram CONTAMINATION (containment, not
    // any-overlap): fraction of each benchmark doc's 8-grams present
    // verbatim in a training doc, thresholded at 0.5 — the published
    // decontamination protocol q63's boolean screen approximates.
    // Bench set = every 97th doc (planted self-pairs score 1.0 and
    // anchor the expected output; near-copies surface below them).
    "q119_contamination_graded" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      graft.llm.Decontaminate.containmentReport(docs, bench,
          "doc_id", "text", n = 8, threshold = 0.5)
        .orderBy("bench_id", "train_id")
    }),

    // q120 — text normalization (graft.llm.Normalize): C4-style
    // whitespace/typography canonicalization. The corpus is already
    // clean, so divergence is PLANTED deterministically (doc_id%7:
    // doubled spaces + trailing NBSP — fully restored by
    // normalization; doc_id%11: curly-quote wrapping — mapped to
    // ASCII quotes, so NOT equal to the original): both the fix-up
    // and the no-op path are proven by the `restored` flag + the
    // normalized-text fingerprint.
    "q120_normalize" -> ((s, dir) => {
      import graft.llm.Normalize
      val t = col("text")
      val wsP = col("doc_id") % 7 === 0
      val qP = col("doc_id") % 11 === 0
      val s1 = when(wsP, concat(lit("  "),
        regexp_replace(t, " ", "  "), lit(" "))).otherwise(t)
      val dirty = when(qP, concat(lit("“"), s1, lit("”"))).otherwise(s1)
      val norm = Normalize.normalize(dirty)
      Tables.documents(s, dir).select(col("doc_id"),
          wsP.as("ws_planted"), qP.as("q_planted"),
          length(dirty).cast("long").as("n_chars_dirty"),
          length(norm).cast("long").as("n_chars_norm"),
          (norm === t).as("restored"),
          substring(md5(norm), 1, 8).as("fp8"))
        .orderBy("doc_id")
    }),

    // q121 — length-bucketed dynamic batching plan
    // (graft.llm.Batching): batches of 8 docs inside 16-token-wide
    // length buckets, 4-way salted so no window partition is ever
    // unbounded; reports per-batch padding waste (the metric dynamic
    // batching exists to minimize).
    "q121_length_batching" -> ((s, dir) => {
      graft.llm.Batching.plan(Tables.documents(s, dir), "doc_id", "text",
          bucketWidth = 16, batchSize = 8, nSalts = 4)
        .orderBy("bucket", "salt", "batch")
    }),

    // q122 — multimodal decode, driver-checkable end-to-end: every
    // 97th doc id gets a deterministic synthetic PNG
    // (sources.ImageGen closed-form pixels), decoded by the REAL JDK
    // ImageIO path (sources.Multimodal.decodeImages — the same code
    // that decodes arbitrary PNG/JPEG/GIF/BMP payloads), and the
    // oracle replays the expected statistics from the pixel formula
    // in plain SQL. Exact-integer accumulators (luma_sum, n_px,
    // luma_bins) make the compare bit-stable; luma_mean is the
    // ExactRound ratio of those integers.
    "q122_image_decode" -> ((s, dir) => {
      val ids = Tables.documents(s, dir)
        .filter(col("doc_id") % 97 === 0).select("doc_id")
      val imgs = graft.sources.ImageGen.syntheticPng(ids, "doc_id")
      graft.sources.Multimodal.decodeImages(imgs, "content")
        .select(col("doc_id"),
          graft.sources.Multimodal.sniffFormat(col("content")).as("format"),
          col("image.decode_ok").as("decode_ok"),
          col("image.width").cast("long").as("width"),
          col("image.height").cast("long").as("height"),
          col("image.channels").cast("long").as("channels"),
          col("image.n_px").as("n_px"),
          col("image.luma_sum").as("luma_sum"),
          col("image.luma_bins").cast("long").as("luma_bins"))
        .withColumn("luma_mean",
          expr(graft.llm.ExactRound.round6Expr("luma_sum", "1000 * n_px")))
        .orderBy("doc_id")
    }),

    // q123 — dedup threshold-sensitivity audit: pair count and
    // affected-document count at each Jaccard threshold in
    // {0.80, 0.85, 0.90, 0.95} — the curve a curation team reads
    // before committing to a dedup threshold. ONE exact pair graph
    // at the loosest threshold (the same cached τ=0.8 SetSimJoin
    // the q31/q102/q65 family shares) answers every tighter
    // threshold by integer re-filtering (inter·100 ≥ pct·union) —
    // no re-join per grid point, and the compare is exact rational
    // arithmetic, never a float boundary.
    "q123_dedup_sensitivity" -> ((s, dir) => {
      import s.implicits._
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val pairs = Dedup.jaccardPairs(Tables.documents(s, dir),
        "doc_id", "text", n = 3, threshold = 0.8)
      val thr = Seq(80L, 85L, 90L, 95L).toDF("threshold_pct")
      val m = pairs.crossJoin(broadcast(thr))
        .filter(col("inter") * lit(100L) >= col("threshold_pct") * col("sz_union"))
      val np = m.groupBy("threshold_pct").agg(count(lit(1)).as("n_pairs"))
      val nd = m.select(col("threshold_pct"),
          explode(array(col("id_i"), col("id_j"))).as("d"))
        .groupBy("threshold_pct").agg(countDistinct("d").as("n_dup_docs"))
      thr.join(np, Seq("threshold_pct"), "left")
        .join(nd, Seq("threshold_pct"), "left")
        .select(col("threshold_pct"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
        .orderBy("threshold_pct")
    }),

    // q129 — per-source document cap (anti-domination): keep at most
    // K docs per source, best-first by (quality desc, doc_id) — the
    // standard guard against one domain dominating the training mix.
    // One shuffle on source; the report keeps every row (kept +
    // dropped counts), so the window ranks rather than group-limits.
    "q129_source_cap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextStats.qualityScore(col("text")).as("q"))
      val w = Window.partitionBy("source").orderBy(col("q").desc, col("doc_id"))
      base.withColumn("rn", row_number().over(w))
        .withColumn("keep", when(col("rn") <= 15, 1L).otherwise(0L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("keep").as("n_kept"),
          sum(col("n_tokens") * col("keep")).as("tokens_kept"))
        .orderBy("source")
    }),

    // q128 — budget-constrained selection (graft.llm.BudgetSelect):
    // keep the best-scoring docs whose cumulative tokens fit 60% of
    // the corpus — the "take the best B tokens" step between
    // scoring (q124's classifier) and training-set assembly. Greedy
    // (score desc, id) prefix computed by band refinement, never a
    // global sort; the oracle replays it with the straightforward
    // global window, proving the refinement exact.
    "q128_budget_selection" -> ((s, dir) => {
      val w = graft.llm.HashedClassifier.seededWeights(1024)
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
          graft.llm.HashedClassifier.score(col("text"), w).as("score"))
      val budget = base.agg(
        expr("(3L * sum(n_tokens)) div 5L").as("budget"))
      val kept = graft.llm.BudgetSelect.withKeep(
        base.crossJoin(broadcast(budget)),
        "doc_id", "score", "n_tokens", "budget")
      kept.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("keep").as("n_kept"),
          sum(col("n_tokens") * col("keep")).as("tokens_kept"))
        .orderBy("lang")
    }),

    // q127 — incremental dedup for corpus APPENDS: exactly the
    // near-dup pairs touching today's batch (fresh×existing and
    // fresh×fresh), via the prefix-filter probe join — candidate
    // cost proportional to batch size, zero existing×existing work,
    // and the result provably equals the full pair graph restricted
    // to fresh-touching pairs (SetSimJoinSpec). The daily-crawl
    // shape: a pipeline re-runs this per append instead of
    // recomputing corpus×corpus.
    "q127_incremental_dedup" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val docs = Tables.documents(s, dir)
      val sh = Dedup.hashedShingles(docs, "doc_id", "text", n = 3)
      val fresh = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
      graft.operators.SetSimJoin.jaccardProbeJoin(sh, fresh, "doc_id", "h", 4, 5)
        .orderBy("id_i", "id_j")
    }),

    // q130 — video frame-sample + features over the deterministic
    // synthetic-GVID corpus (sources/VideoGen, closed-form pixels):
    // the pluggable VideoCodec seam runs executor-side in the
    // batched sampler (every 2nd frame), and the oracle replays
    // dimensions, exact integer luma over the sampled frames, and
    // the inter-frame motion sum from the generator formula — the
    // q122/q126 pattern extended to the one modality with no JDK
    // codec (the GVID parser is the test-double codec binding).
    "q130_video_decode" -> ((s, dir) => {
      val ids = Tables.documents(s, dir)
        .filter(col("doc_id") % 101 === 0).select("doc_id")
      val vids = graft.sources.VideoGen.syntheticGvid(ids, "doc_id")
      graft.sources.Multimodal.sampleVideoFrames(
          vids, graft.sources.VideoGen.Codec, "content", frameStride = 2)
        .select(col("doc_id"),
          graft.sources.Multimodal.sniffFormat(col("content")).as("format"),
          col("video.decode_ok").as("decode_ok"),
          col("video.width").cast("long").as("width"),
          col("video.height").cast("long").as("height"),
          col("video.fps").cast("long").as("fps"),
          col("video.n_frames").cast("long").as("n_frames"),
          col("video.n_sampled").as("n_sampled"),
          col("video.n_px").as("n_px"),
          col("video.luma_sum").as("luma_sum"),
          col("video.motion_abs").as("motion_abs"))
        .withColumn("luma_mean",
          expr(graft.llm.ExactRound.round6Expr("luma_sum", "1000 * n_px")))
        .orderBy("doc_id")
    }),

    // q153 — IMAGE near-dup dedup via the exact average-hash
    // (llm/ImageDedup): the missing modality in the dedup tier —
    // q30/q31/q33/q45 dedup text and embeddings, this dedups the
    // image corpus through the REAL decode path. Every 97th doc
    // gets its closed-form PNG (q122's corpus) PLUS a
    // brightness-perturbed re-render (every channel +2, clamped —
    // different bytes, same picture); both decode through ImageIO,
    // hash to 64 exact aHash bits (8×8 grid-cell mean vs global
    // mean, BigInt cross-products — bit-exact at any image size),
    // and pair up via the pigeonhole block join (8×8-bit blocks ⇒
    // recall 1.0 at Hamming ≤ 7, never all-pairs). Unlike q33's
    // structural oracle, the hash here IS replayable: DuckDB
    // recomputes every bit from the pixel formula (HUGEINT
    // cross-products) and enumerates the identical pair set — the
    // full pipeline (decode → hash → band join → verify) is
    // value-checked, not just shape-checked. Planted pairs land at
    // dist 0 (the perturbation moves cell and global means in
    // lockstep — exactly the invariance that makes aHash a
    // perceptual hash); organic formula-coincidence pairs at small
    // distances are found identically by both engines.
    "q153_image_phash_dedup" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val ids = Tables.documents(s, dir)
        .filter(col("doc_id") % 97 === 0).select("doc_id")
      val originals = graft.sources.ImageGen.syntheticPng(ids, "doc_id")
      // render the ORIGINAL id's pixels (+2 clamped), relabel after —
      // the variant is a perturbation of the same picture, not a
      // different formula image
      val variants = graft.sources.ImageGen.syntheticPng(ids, "doc_id", delta = 2)
        .select((col("doc_id") + 1000000).as("doc_id"), col("content"))
      val decoded = graft.sources.Multimodal.decodeImages(
        originals.unionByName(variants), "content", grid = 8)
      graft.llm.ImageDedup.phashNearDups(decoded, "doc_id", maxDist = 7)
        .select(col("id_i"), col("id_j"), col("dist").cast("long").as("dist"))
        .orderBy("id_i", "id_j")
    }),

    // q164 — fingerprint pairs → duplicate GROUPS → canonical media
    // (the q60/q115/q125 discipline for the perceptual tier): the
    // q153 pair graph clustered by distributed connected components
    // (large-star/small-star — O(log n) shuffle rounds, no driver
    // graph), then EVERY image gets the verdict a curation pipeline
    // actually consumes — its duplicate group (component = min
    // reachable id), whether it is the group's canonical survivor,
    // and the group size. Singletons are their own canonical. The
    // oracle replays the full hash pipeline and closes the pair
    // graph with a recursive CTE — component assignments match
    // row-for-row, not just in shape.
    "q164_phash_dup_groups" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val ids = Tables.documents(s, dir)
        .filter(col("doc_id") % 97 === 0).select("doc_id")
      val originals = graft.sources.ImageGen.syntheticPng(ids, "doc_id")
      val variants = graft.sources.ImageGen.syntheticPng(ids, "doc_id", delta = 2)
        .select((col("doc_id") + 1000000).as("doc_id"), col("content"))
      val decoded = graft.sources.Multimodal.decodeImages(
        originals.unionByName(variants), "content", grid = 8)
      val pairs = graft.llm.ImageDedup.phashNearDups(decoded, "doc_id", maxDist = 7)
      val comp = graft.llm.Cluster.connectedComponents(pairs, "id_i", "id_j")
        .select(col("id").as("doc_id"), col("component"))
      decoded.select("doc_id")
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).cast("long").as("component"))
        .withColumn("is_canonical", col("doc_id") === col("component"))
        .withColumn("n_copies",
          count(lit(1)).over(Window.partitionBy("component")))
        .orderBy("doc_id")
    }),

    // q156 — AUDIO near-dup dedup via the zero-crossing fingerprint
    // (q153's sibling for the audio modality): every 89th doc gets
    // its closed-form WAV (q126's corpus) PLUS an amplitude-scaled
    // re-master (every sample ×2 — a different byte stream with 4×
    // the energy, so byte hashes AND energy stats both miss it),
    // decoded through the REAL javax.sound path. The fingerprint is
    // 64 exact bits — window w's sign-flip RATE above the clip
    // average, long cross-products — and is amplitude-scale-
    // invariant by construction (gain never flips a sign), exactly
    // the invariance a perceptual audio hash needs. Pairing is the
    // shared pigeonhole band join (SigDedup, recall 1.0 at Hamming
    // ≤ 7); the oracle replays every bit from the sample formula —
    // full value replay like q153, planted pairs land at dist 0.
    "q156_audio_fingerprint_dedup" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val ids = Tables.documents(s, dir)
        .filter(col("doc_id") % 89 === 0).select("doc_id")
      val originals = graft.sources.AudioGen.syntheticWav(ids, "doc_id")
      val remaster = graft.sources.AudioGen.syntheticWav(ids, "doc_id", gain = 2)
        .select((col("doc_id") + 1000000).as("doc_id"), col("content"))
      val decoded = graft.sources.Multimodal.decodeAudio(
        originals.unionByName(remaster), "content")
      graft.llm.SigDedup.bandedNearDups(
          decoded, "doc_id", "afp_hi", "afp_lo", maxDist = 7)
        .select(col("id_i"), col("id_j"), col("dist").cast("long").as("dist"))
        .orderBy("id_i", "id_j")
    }),

    // q157 — VIDEO near-dup dedup completing the modality triad
    // (text q30-q33/q45, image q153, audio q156 — one SigDedup band
    // engine for all perceptual fingerprints): every 101st doc gets
    // its closed-form GVID clip (q130's corpus) PLUS a
    // brightness-perturbed re-encode (+3 clamped per channel —
    // different bytes, same video). The fingerprint is the aHash of
    // the clip's TIME-AVERAGE image: 8×8 spatial cells, luma
    // accumulated across the stride-2 SAMPLED frames through the
    // real codec seam, exact BigInt cell-vs-global compare — stable
    // under brightness shift AND under any per-frame noise that
    // time-averaging washes out. The oracle replays every bit from
    // the pixel formula over the same sampled frames; planted pairs
    // land at dist 0, organic formula-coincidence pairs match
    // identically on both engines.
    "q157_video_fingerprint_dedup" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val ids = Tables.documents(s, dir)
        .filter(col("doc_id") % 101 === 0).select("doc_id")
      val originals = graft.sources.VideoGen.syntheticGvid(ids, "doc_id")
      val variants = graft.sources.VideoGen.syntheticGvid(ids, "doc_id", delta = 3)
        .select((col("doc_id") + 1000000).as("doc_id"), col("content"))
      val decoded = graft.sources.Multimodal.sampleVideoFrames(
        originals.unionByName(variants), graft.sources.VideoGen.Codec,
        "content", frameStride = 2)
      graft.llm.SigDedup.bandedNearDups(
          decoded, "doc_id", "vfp_hi", "vfp_lo", maxDist = 7)
        .select(col("id_i"), col("id_j"), col("dist").cast("long").as("dist"))
        .orderBy("id_i", "id_j")
    }),

    // q158 — INCREMENTAL fingerprint dedup against a PERSISTED
    // signature index: how q153 runs daily at 100 TB. The corpus'
    // signatures (16 bytes/row — the only artifact the pipeline
    // keeps) are persisted via writeAtomic and read back; today's
    // batch (the brightness-perturbed re-uploads) is decoded,
    // signed, and probe-joined fresh×(existing ∪ fresh) — candidate
    // cost ∝ batch, zero existing×existing work, no media
    // re-decode. The q127 incremental-dedup contract at the
    // fingerprint tier: the result provably equals the full pair
    // graph restricted to fresh-touching pairs, and the oracle
    // checks exactly that — the q153 all-pairs replay filtered to
    // pairs with a fresh side.
    "q158_incremental_phash_dedup" -> ((s, dir) => {
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val ids = Tables.documents(s, dir)
        .filter(col("doc_id") % 97 === 0).select("doc_id")
      val existingDecoded = graft.sources.Multimodal.decodeImages(
        graft.sources.ImageGen.syntheticPng(ids, "doc_id"), "content", grid = 8)
      val root = java.nio.file.Files.createTempDirectory("graft_q158").toString
      graft.etl.Load.writeAtomic(s,
        existingDecoded.select("doc_id", "ahash_hi", "ahash_lo"), s"$root/sigs")
      val existingSigs = graft.etl.Load.readTable(s, s"$root/sigs")
      val freshDecoded = graft.sources.Multimodal.decodeImages(
        graft.sources.ImageGen.syntheticPng(ids, "doc_id", delta = 2)
          .select((col("doc_id") + 1000000).as("doc_id"), col("content")),
        "content", grid = 8)
      graft.llm.SigDedup.incrementalNearDups(existingSigs, freshDecoded,
          "doc_id", "ahash_hi", "ahash_lo", maxDist = 7)
        .select(col("id_i"), col("id_j"), col("dist").cast("long").as("dist"))
        .orderBy("id_i", "id_j")
    }),

    // q161 — STREAMING perceptual dedup behind the oracle gate (the
    // q137/q139/q150/q151 runtime discipline applied to the
    // fingerprint tier): the q153 corpus arrives as three real
    // AvailableNow micro-batches (originals first, then the
    // perturbed re-uploads in two waves, mtime-ordered parquet
    // staging); each batch decodes through ImageIO, probes the
    // signature store accumulated from earlier batches
    // (fresh×store ∪ fresh×fresh — store×store is never recomputed),
    // and appends its signatures, both through batch_id-idempotent
    // sinks. Every pair is emitted exactly once — in the batch that
    // carried its later member — so the union of all batch outputs
    // must equal q153's one-shot pair graph, and the oracle is
    // q153's full hash replay verbatim.
    "q161_streaming_phash_dedup" -> ((s, dir) => {
      val ids = Tables.documents(s, dir)
        .filter(col("doc_id") % 97 === 0).select("doc_id")
      val originals = graft.sources.ImageGen.syntheticPng(ids, "doc_id")
      val variants = graft.sources.ImageGen.syntheticPng(ids, "doc_id", delta = 2)
        .select((col("doc_id") + 1000000).as("doc_id"), col("content"))
      val base = java.nio.file.Files.createTempDirectory("graft_q161").toString
      graft.streaming.Ingest.stageOrderedParquet(s, Seq(
        originals,
        variants.filter(col("doc_id") % 2 === 0),
        variants.filter(col("doc_id") % 2 =!= 0)), s"$base/staging")
      graft.streaming.Ingest.phashDedupAvailableNow(s, s"$base/staging",
        s"$base/chk", s"$base/store", s"$base/out", maxFilesPerTrigger = Some(1))
      s.read.parquet(s"$base/out")
        .select(col("id_i"), col("id_j"), col("dist").cast("long").as("dist"))
        .orderBy("id_i", "id_j")
    }),

    // q131 — Gopher repetition battery (llm/Repetition): top
    // 2/3/4-gram and duplicate 5/6/7-gram char fractions per doc,
    // thresholds per the paper, verdicts on the same 10^6-scaled
    // integers the displayed ratios derive from. The other half of
    // q118's rule battery — repetition is the pathology the
    // document-shape rules can't see. Corpus-level summary so the
    // result is compact at any SF; per-rule failure counts keep
    // every rule observable.
    "q131_repetition_rules" -> ((s, dir) => {
      val r = graft.llm.Repetition.report(
        Tables.documents(s, dir), "doc_id", "text")
      r.groupBy("rep_ok")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("top2_frac") > 0.20, 1L).otherwise(0L)).as("n_top2_fail"),
          sum(when(col("top3_frac") > 0.18, 1L).otherwise(0L)).as("n_top3_fail"),
          sum(when(col("top4_frac") > 0.16, 1L).otherwise(0L)).as("n_top4_fail"),
          sum(when(col("dup5_frac") > 0.15, 1L).otherwise(0L)).as("n_dup5_fail"),
          sum(when(col("dup6_frac") > 0.14, 1L).otherwise(0L)).as("n_dup6_fail"),
          sum(when(col("dup7_frac") > 0.13, 1L).otherwise(0L)).as("n_dup7_fail"),
          sum("n_chars").as("total_chars"))
        .orderBy("rep_ok")
    }),

    // q132 — corpus novelty scoring: per-document fraction of its
    // distinct trigram shingles FIRST seen in that document
    // (attribution by min doc_id — the standard "contribution of
    // new n-grams" curve curation teams read to find where a crawl
    // stops adding information). Reuses the SHARED cached n=3
    // hashed-shingle index (the q31/q102/q115 family): the gram
    // build amortizes across the suite and every shuffle/join here
    // carries 8-byte hashes, never strings. Two hash aggregations
    // (shingle, then doc) + one shingle-keyed join; no windows, no
    // driver state — linear in corpus tokens.
    "q132_novelty" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sh = Dedup.hashedShingles(docs, "doc_id", "text", n = 3)
        .select(col("doc_id"), col("h").as("g"))
      val first = sh.groupBy("g").agg(min("doc_id").as("first_doc"))
      val perDoc = sh.join(first, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty_frac",
          expr(graft.llm.ExactRound.round6Expr("n_novel", "n_shingles")))
      // corpus summary in novelty-decile bands (compact at any SF)
      // floor on BOTH sides: Spark's double→long cast truncates while
      // DuckDB's rounds, so a bare cast would disagree at band edges
      perDoc
        .withColumn("band", floor(col("novelty_frac") * 10).cast("long"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_shingles").as("shingles"),
          sum("n_novel").as("novel"))
        .orderBy("band")
    }),

    // q133 — corpus drift monitor (llm/Drift): quantized total-
    // variation distance between two snapshot halves' token
    // distributions (even/odd doc_id as the demo split; the
    // operator takes any two frames). The standing pre-admission
    // check for a new crawl snapshot; all integers exact, per-
    // million quantization keeps every number in long range at any
    // corpus size.
    "q133_corpus_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.llm.Drift.summary(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text")
    }),

    // q137 — THE STREAMING RUNTIME, oracle-visible: q133's drift
    // summary computed by the actual Structured Streaming engine
    // instead of the batch twin. The odd-doc half is written as
    // JSON-lines (a distributed write — nothing collected) and
    // streamed through [[graft.streaming.Ingest.driftMonitorAvailableNow]]
    // with maxFilesPerTrigger=1, so the checkpointed streaming state
    // accumulates across ≥3 genuine micro-batches; the query emits
    // the FINAL accumulated row, which must equal the batch summary
    // bit-for-bit — the same DuckDB oracle as q133 verbatim. Until
    // now the streaming operators were spec-verified only; this puts
    // the streaming runtime itself behind the driver's hash gate.
    // Cost note: each invocation pays a real streaming query
    // (checkpoint dir, state store, per-batch planning) — that
    // runtime IS the thing under test.
    "q137_streaming_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_q137").toString
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "lang")
        .repartition(3)
        .write.mode("overwrite").json(s"$base/staging")
      graft.streaming.Ingest.driftMonitorAvailableNow(s, s"$base/staging",
        s"$base/chk", docs.filter(col("doc_id") % 2 === 0), "text",
        s"$base/out", maxFilesPerTrigger = Some(1))
      val rows = s.read.parquet(s"$base/out")
      rows.join(broadcast(rows.agg(max("batch_id").as("batch_id"))),
          Seq("batch_id"))
        .select("n_ref", "n_cur", "vocab_ref", "vocab_cur", "vocab_union",
          "tv_microsum", "tv_dist")
    }),

    // q151 — STREAMING per-doc feature store behind the oracle gate:
    // q108's incrementally-maintainable signals (token count, quality
    // blend, PII counts, content fingerprint + the fingerprint copy
    // count) maintained by Stateful.docFeatures through real
    // AvailableNow micro-batches. Copy-count state is ORDER-
    // INDEPENDENT (a pure function of the full corpus), so the
    // staging can slice unordered like q139; each doc's highest-
    // batch_id emission is its final feature row and must equal the
    // one-shot batch recompute — the q108 base-features SQL.
    "q151_streaming_docfeat" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_q151").toString
      docs.select("doc_id", "text", "lang")
        .repartition(3)
        .write.mode("overwrite").json(s"$base/staging")
      graft.streaming.Ingest.docFeaturesAvailableNow(s, s"$base/staging",
        s"$base/chk", s"$base/out", maxFilesPerTrigger = Some(1))
      s.read.parquet(s"$base/out")
        .groupBy("doc_id")
        .agg(expr("max_by(struct(lang, n_tokens, quality, n_pii, fp, n_fp_copies), batch_id)").as("st"))
        .select(col("doc_id"), col("st.lang").as("lang"),
          col("st.n_tokens").as("n_tokens"), col("st.quality").as("quality"),
          col("st.n_pii").as("n_pii"), col("st.fp").as("fp"),
          col("st.n_fp_copies").as("n_fp_copies"))
        .orderBy("doc_id")
    }),

    // q134 — drift movers: the top-20 tokens by quantized
    // probability shift between the two halves, deterministic
    // (delta desc, token asc) — the "what changed" report read
    // alongside q133's summary number.
    "q134_drift_movers" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.llm.Drift.topMovers(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", k = 20)
    }),

    // q135 — vocabulary-coverage / OOV-rate filter: per-document
    // fraction of token OCCURRENCES covered by the top-1000 corpus
    // vocabulary (count desc, token asc — a total order, so the
    // cutoff is deterministic). Documents mostly made of
    // out-of-vocabulary tokens are gibberish/noise with high
    // probability — the cheap lexical cousin of the q124 model
    // filter. Scale shape: one token-keyed hash aggregation
    // (map-side combine, shuffle = |vocab|), a bounded top-K
    // (limit 1000 → TakeOrdered, never a global sort of the corpus),
    // a BROADCAST left-semi-style join of the token stream against
    // the 1000-row vocab, and a per-doc aggregation. Coverage and
    // the low flag threshold on the same 10^6-scaled integer.
    "q135_vocab_coverage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"), col("lang"),
        explode(TextStats.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(1000)
        .select(col("tok"), lit(1L).as("__in"))
      val perDoc = toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce(col("__in"), lit(0L))).as("n_in_vocab"))
        .withColumn("__cov_u",
          expr(graft.llm.ExactRound.micro6Expr("n_in_vocab", "n_tokens")))
      perDoc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          sum("n_in_vocab").as("in_vocab_tokens"),
          sum(when(col("__cov_u") < 900000L, 1L).otherwise(0L)).as("n_low"))
        .withColumn("coverage",
          expr(graft.llm.ExactRound.round6Expr("in_vocab_tokens", "total_tokens")))
        .orderBy("lang")
    }),

    // q126 — audio decode + features over the deterministic
    // synthetic-WAV corpus (sources/AudioGen, closed-form samples):
    // the real JDK javax.sound decode runs executor-side in the
    // batched seam, and the oracle replays sample count, exact
    // integer energy, zero crossings and peak from the generator
    // formula — the q122/ImageGen pattern extended to audio.
    "q126_audio_decode" -> ((s, dir) => {
      val ids = Tables.documents(s, dir)
        .filter(col("doc_id") % 89 === 0).select("doc_id")
      val wavs = graft.sources.AudioGen.syntheticWav(ids, "doc_id")
      graft.sources.Multimodal.decodeAudio(wavs, "content")
        .select(col("doc_id"),
          graft.sources.Multimodal.sniffFormat(col("content")).as("format"),
          col("audio.decode_ok").as("decode_ok"),
          col("audio.sample_rate").cast("long").as("sample_rate"),
          col("audio.channels").cast("long").as("channels"),
          col("audio.n_samples").as("n_samples"),
          col("audio.sq_sum").as("sq_sum"),
          col("audio.zero_crossings").as("zero_crossings"),
          col("audio.peak").cast("long").as("peak"))
        .withColumn("mean_square",
          expr(graft.llm.ExactRound.round6Expr("sq_sum", "n_samples")))
        .orderBy("doc_id")
    }),

    // q124 — hashed-feature linear classifier scoring
    // (graft.llm.HashedClassifier): the fasttext-style model-based
    // quality filter. One codegen'd scan projection — HOF aggregate
    // over tokens, O(1) weight-array lookup per token, exact long
    // sums (order-independent). The q124 model is the deterministic
    // seeded stand-in, so the oracle replays bucket and weight
    // closed-form; trained fixed-point weights use the same seam.
    "q124_quality_classifier" -> ((s, dir) => {
      val w = graft.llm.HashedClassifier.seededWeights(1024)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
          graft.llm.HashedClassifier.score(col("text"), w).as("score_sum"))
        .withColumn("keep",
          when(col("score_sum") >= 0L, 1L).otherwise(0L))
        .orderBy("doc_id")
    }),

    // q125 — leakage-safe train/val split: assignment is a pure
    // function of the NEAR-DUP CLUSTER id, so no near-duplicate pair
    // ever straddles the split boundary (train/test contamination by
    // paraphrase — the failure mode doc-level hash splits can't
    // prevent). Reuses the shared cached τ=0.8 pair graph
    // (q31/q102/q115/q123 family) + q60's components; singletons are
    // their own cluster. `n_straddling` re-derives the invariant
    // in-plan (deterministic self-check idiom, SURVEY §6.2).
    "q125_leakage_safe_split" -> ((s, dir) => {
      import s.implicits._
      graft.llm.BarrierCache.sweepOnNewScope(s, dir)
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      val comp = graft.llm.Cluster.connectedComponents(pairs, "id_i", "id_j")
      val assigned = docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .withColumn("split",
          when(conv(substring(md5(col("cluster_id").cast("string")), 1, 6), 16, 10)
            .cast("long") % 100 < 90, lit("train")).otherwise(lit("val")))
      val straddle = assigned.groupBy("cluster_id")
        .agg(countDistinct("split").as("nspl"))
        .agg(sum(when(col("nspl") > 1L, 1L).otherwise(0L)).as("n_straddling"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("cluster_id").as("n_clusters"))
        .crossJoin(broadcast(straddle))
        .orderBy("split")
    }))

  /** Exact top-k rows + one deterministic aggregate `recall_ok`
    * flag: the ANN twin's hit count over the exact set, thresholded.
    * A constant-partition window keeps it one plan (the post-top-k
    * frame is tiny — k rows per probe — so the single-partition
    * window is trivially cheap).
    */
  private def annWithRecall(exact: org.apache.spark.sql.DataFrame,
                            ann: org.apache.spark.sql.DataFrame,
                            minRecall: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(1))
    val hits = ann.select(col("query_id"), col("cand_id"), lit(1L).as("__hit"))
    exact.join(hits, Seq("query_id", "cand_id"), "left")
      .withColumn("recall_ok",
        sum(coalesce(col("__hit"), lit(0L))).over(w) >=
          count(lit(1)).over(w) * lit(minRecall))
      .select(col("query_id"), col("rnk"), col("cand_id"), col("cosine"),
        col("recall_ok"))
      .orderBy("query_id", "rnk")
  }

  /** The shared CTE chain recomputing every image aHash bit from the
    * pixel formula (HUGEINT cross-products) — the body behind
    * [[phashAllPairsSql]] (q153/q161) and the q164 component oracle.
    * Callers prepend `WITH`/`WITH RECURSIVE` and append their
    * consumer CTEs + final select.
    */
  private val phashImgsCte =
    """ids AS (SELECT doc_id, CAST(16 + doc_id % 17 AS BIGINT) AS w,
      |                    CAST(16 + doc_id % 13 AS BIGINT) AS h
      |             FROM documents WHERE doc_id % 97 = 0),
      |var AS (SELECT doc_id, w, h,
      |               unnest([CAST(0 AS BIGINT), CAST(2 AS BIGINT)]) AS delta
      |        FROM ids),
      |xs AS (SELECT doc_id, delta, w, h, unnest(range(0, w)) AS x FROM var),
      |px AS (SELECT doc_id, delta, w, h, x, unnest(range(0, h)) AS y FROM xs),
      |lm AS (SELECT doc_id, delta,
      |    299*least((7*x + 13*y + doc_id) % 256 + delta, 255)
      |    + 587*least((3*x + 5*y + 2*doc_id) % 256 + delta, 255)
      |    + 114*least((x + y + 3*doc_id) % 256 + delta, 255) AS l,
      |    ((y * 8) // h) * 8 + ((x * 8) // w) AS c
      |  FROM px),
      |cells AS (SELECT doc_id, delta, c, CAST(SUM(l) AS BIGINT) AS gsum,
      |                 COUNT(*) AS gcnt
      |          FROM lm GROUP BY 1, 2, 3),
      |tot AS (SELECT doc_id, delta, CAST(SUM(l) AS BIGINT) AS luma_sum,
      |               COUNT(*) AS n_px
      |        FROM lm GROUP BY 1, 2),
      |bits AS (SELECT doc_id, delta, c,
      |    CAST(gsum AS HUGEINT) * n_px > CAST(luma_sum AS HUGEINT) * gcnt AS b
      |  FROM cells JOIN tot USING (doc_id, delta)),
      |hash AS (SELECT doc_id, delta,
      |    CAST(SUM(CASE WHEN c >= 32 AND b
      |                  THEN (CAST(1 AS BIGINT) << CAST(c - 32 AS INT))
      |                  ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(SUM(CASE WHEN c < 32 AND b
      |                  THEN (CAST(1 AS BIGINT) << CAST(c AS INT))
      |                  ELSE 0 END) AS BIGINT) AS lo
      |  FROM bits GROUP BY 1, 2),
      |imgs AS (SELECT CASE WHEN delta = 0 THEN doc_id
      |                     ELSE doc_id + 1000000 END AS iid, hi, lo
      |         FROM hash)""".stripMargin

  /** Full replay of the image aHash pair graph (q153) — all-pairs
    * Hamming ≤ 7 over [[phashImgsCte]]. Shared verbatim by q161: the
    * streaming run's union-of-batches must equal this one-shot batch
    * result.
    */
  private val phashAllPairsSql =
    s"""WITH $phashImgsCte
      |SELECT a.iid AS id_i, b.iid AS id_j,
      |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS dist
      |FROM imgs a JOIN imgs b ON a.iid < b.iid
      |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
      |ORDER BY id_i, id_j""".stripMargin

  private val fpSql =
    """md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]|\s+', ' ', 'g')))"""

  private val jaccardSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g FROM idx),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS id_i, b.doc_id AS id_j, COUNT(*) AS inter
      |          FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id_i, id_j, CAST(inter AS BIGINT) AS inter,
      |       CAST(sa.sz + sb.sz - inter AS BIGINT) AS sz_union
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = id_i
      |JOIN sizes sb ON sb.doc_id = id_j
      |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
      |ORDER BY id_i, id_j""".stripMargin

  private val qiSql = (e: String) => s"CAST(round(CAST($e AS DOUBLE)*1000000.0) AS BIGINT)"

  /** Shared by q63 and q70: the bloom variant is contractually
    * row-identical to the exact form, so both keys map to ONE oracle
    * definition — a fix to the contamination semantics can't miss
    * one of them.
    */
  private val contaminationSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 2)) AS i FROM toks WHERE len(t) >= 4),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS g FROM idx),
      |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 23 = 0),
      |cont AS (SELECT DISTINCT doc_id FROM sh
      |         WHERE doc_id % 23 <> 0 AND g IN (SELECT g FROM bench))
      |SELECT lang, COUNT(*) AS n_train,
      |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM cont) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
      |FROM documents WHERE doc_id % 23 <> 0
      |GROUP BY 1 ORDER BY lang""".stripMargin

  /** Exact brute-force cosine top-10 (q34's contract), with optional
    * extra constant columns — shared by q34 and the ANN twins
    * q35/q47, whose Spark side emits the same exact projection plus
    * a recall flag.
    */
  private def bruteTopKSql(extraCols: String, corpusWhere: String = "") =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
       |p AS (
       |  SELECT query_id, e.vec_id AS cand_id,
       |    SUM(${qiSql("qv[i]")} * ${qiSql("e.embedding[i]")}) AS dot,
       |    SUM(${qiSql("qv[i]")} * ${qiSql("qv[i]")}) AS qn2,
       |    SUM(${qiSql("e.embedding[i]")} * ${qiSql("e.embedding[i]")}) AS cn2
       |  FROM q, embeddings e, range(1, 65) AS u(i)
       |  WHERE e.vec_id <> query_id$corpusWhere
       |  GROUP BY 1, 2)
       |SELECT query_id, CAST(rn AS BIGINT) AS rnk, cand_id, round(cos, 6) AS cosine$extraCols FROM (
       |  SELECT query_id, cand_id,
       |         CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cos,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) DESC,
       |                    cand_id) AS rn
       |  FROM p)
       |WHERE rn <= 10 ORDER BY query_id, rnk""".stripMargin

  /** Quantized-TV drift summary over the even/odd doc_id split —
    * shared verbatim by q133 (batch) and q137 (streaming runtime):
    * the two engines must land on the same integers.
    */
  private val driftSummarySql =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |a AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS a FROM t WHERE doc_id % 2 = 0 GROUP BY 1),
      |b AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS b FROM t WHERE doc_id % 2 = 1 GROUP BY 1),
      |j AS (SELECT tok, COALESCE(a, 0) AS a, COALESCE(b, 0) AS b
      |      FROM a FULL JOIN b USING (tok)),
      |tot AS (SELECT SUM(a) AS n_ref, SUM(b) AS n_cur,
      |               SUM(CASE WHEN a > 0 THEN 1 ELSE 0 END) AS vocab_ref,
      |               SUM(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS vocab_cur,
      |               COUNT(*) AS vocab_union FROM j),
      |d AS (SELECT (2 * a * 1000000 + n_ref) // (2 * n_ref) AS p,
      |             (2 * b * 1000000 + n_cur) // (2 * n_cur) AS q
      |      FROM j, tot),
      |s AS (SELECT SUM(ABS(p - q)) AS tv_microsum FROM d)
      |SELECT CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
      |  CAST(vocab_ref AS BIGINT) AS vocab_ref,
      |  CAST(vocab_cur AS BIGINT) AS vocab_cur,
      |  CAST(vocab_union AS BIGINT) AS vocab_union,
      |  CAST(tv_microsum AS BIGINT) AS tv_microsum,
      |  CAST((2 * tv_microsum * 1000000 + 2000000) // (4000000) AS DOUBLE) / 1e6 AS tv_dist
      |FROM tot, s""".stripMargin

  val oracles: Map[String, String] = Map(
    "q88_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT doc_id, toks, len(toks) AS ntok FROM t),
        |k AS (SELECT doc_id, toks, ntok,
        |        CASE WHEN ntok <= 32 THEN 0
        |             ELSE CAST(ceil((ntok - 32) / 24.0) AS BIGINT) END AS kmax
        |      FROM n),
        |c AS (SELECT doc_id, toks, ntok,
        |             unnest(generate_series(0, kmax)) AS ci FROM k)
        |SELECT doc_id, ci AS chunk_id,
        |       array_to_string(toks[ci*24+1 : ci*24+32], ' ') AS chunk_text,
        |       LEAST(32, ntok - ci*24) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // BM25 mirror: identical IEEE op sequence term-for-term (see
    // Relevance.bm25 scaladoc); the only transcendental is ln, score
    // rounded to 6 on both engines (q80 rounding budget).
    "q89_bm25_search" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t = 'vector')) AS BIGINT) AS tf0,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t = 'filter')) AS BIGINT) AS tf1,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t = 'merge')) AS BIGINT) AS tf2
        |  FROM documents),
        |stats AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl,
        |         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM base)
        |SELECT doc_id, dl AS doc_len,
        |       round(
        |         ln(1.0 + (CAST(n AS DOUBLE) - df0 + 0.5) / (df0 + 0.5))
        |           * (CAST(tf0 AS DOUBLE) * 2.25)
        |           / (CAST(tf0 AS DOUBLE) + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n)))
        |       + ln(1.0 + (CAST(n AS DOUBLE) - df1 + 0.5) / (df1 + 0.5))
        |           * (CAST(tf1 AS DOUBLE) * 2.25)
        |           / (CAST(tf1 AS DOUBLE) + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n)))
        |       + ln(1.0 + (CAST(n AS DOUBLE) - df2 + 0.5) / (df2 + 0.5))
        |           * (CAST(tf2 AS DOUBLE) * 2.25)
        |           / (CAST(tf2 AS DOUBLE) + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n))), 6) AS score
        |FROM base CROSS JOIN stats
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    // q159: BM25 replay over the full corpus TEXT with the q89 float
    // sequence — the served index form must match bit-for-bit
    "q159_inverted_index_lifecycle" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t = 'hash')) AS BIGINT) AS tf0,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t = 'scan')) AS BIGINT) AS tf1,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t = 'batch')) AS BIGINT) AS tf2
        |  FROM documents),
        |stats AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl,
        |         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM base)
        |SELECT doc_id, dl AS doc_len,
        |       round(
        |         ln(1.0 + (CAST(n AS DOUBLE) - df0 + 0.5) / (df0 + 0.5))
        |           * (CAST(tf0 AS DOUBLE) * 2.25)
        |           / (CAST(tf0 AS DOUBLE) + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n)))
        |       + ln(1.0 + (CAST(n AS DOUBLE) - df1 + 0.5) / (df1 + 0.5))
        |           * (CAST(tf1 AS DOUBLE) * 2.25)
        |           / (CAST(tf1 AS DOUBLE) + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n)))
        |       + ln(1.0 + (CAST(n AS DOUBLE) - df2 + 0.5) / (df2 + 0.5))
        |           * (CAST(tf2 AS DOUBLE) * 2.25)
        |           / (CAST(tf2 AS DOUBLE) + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n))), 6) AS score,
        |       TRUE AS index_ok
        |FROM base CROSS JOIN stats
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    "q95_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT doc_id, tok, COUNT(*) AS tf
        |      FROM toks WHERE length(tok) > 0 GROUP BY 1, 2),
        |d AS (SELECT tok, COUNT(*) AS df FROM t GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |s AS (SELECT doc_id, tok, tf, df,
        |             round(CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / df), 6) AS score
        |      FROM t JOIN d USING (tok) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                ORDER BY score DESC, tok) AS rn FROM s)
        |SELECT doc_id, CAST(rn AS BIGINT) AS rank, tok, tf, df, score
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin,
    // truncated-RRF mirror: both scorers' exact CTEs, rank windows
    // over the LIMIT-50 lists, integer adds inside the one division
    "q100_hybrid_rrf" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t = 'vector')) AS BIGINT) AS tf0,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t = 'filter')) AS BIGINT) AS tf1,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t = 'merge')) AS BIGINT) AS tf2
        |  FROM documents),
        |stats AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl,
        |         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM base),
        |bm AS (
        |  SELECT doc_id,
        |       round(
        |         ln(1.0 + (CAST(n AS DOUBLE) - df0 + 0.5) / (df0 + 0.5))
        |           * (CAST(tf0 AS DOUBLE) * 2.25)
        |           / (CAST(tf0 AS DOUBLE) + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n)))
        |       + ln(1.0 + (CAST(n AS DOUBLE) - df1 + 0.5) / (df1 + 0.5))
        |           * (CAST(tf1 AS DOUBLE) * 2.25)
        |           / (CAST(tf1 AS DOUBLE) + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n)))
        |       + ln(1.0 + (CAST(n AS DOUBLE) - df2 + 0.5) / (df2 + 0.5))
        |           * (CAST(tf2 AS DOUBLE) * 2.25)
        |           / (CAST(tf2 AS DOUBLE) + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n))), 6) AS score
        |  FROM base CROSS JOIN stats),
        |la AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS ra
        |  FROM (SELECT * FROM bm ORDER BY score DESC, doc_id LIMIT 50)),
        |tfidf AS (
        |  SELECT doc_id,
        |         round(CAST(tf0 AS DOUBLE) * ln(CAST(n AS DOUBLE) / df0)
        |             + CAST(tf1 AS DOUBLE) * ln(CAST(n AS DOUBLE) / df1)
        |             + CAST(tf2 AS DOUBLE) * ln(CAST(n AS DOUBLE) / df2), 6) AS score
        |  FROM base CROSS JOIN stats),
        |lb AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rb
        |  FROM (SELECT * FROM tfidf ORDER BY score DESC, doc_id LIMIT 50)),
        |f AS (
        |  SELECT COALESCE(la.doc_id, lb.doc_id) AS doc_id, ra, rb,
        |         COALESCE(1.0 / CAST(60 + ra AS DOUBLE), 0.0)
        |           + COALESCE(1.0 / CAST(60 + rb AS DOUBLE), 0.0) AS rrf
        |  FROM la FULL OUTER JOIN lb ON la.doc_id = lb.doc_id)
        |SELECT doc_id, ra, rb, rrf FROM f
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "q27_text_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |       CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens,
        |       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
        |       COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    // subword count mirrored WITHOUT lookarounds (RE2): non-empty
    // zero-width-split tokens == alnum runs + non-alnum chars
    "q55_subword_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z0-9]+'))
        |         + length(text) - length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))) AS BIGINT) AS sum_subwords,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z0-9]+'))
        |         + length(text) - length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))) AS DOUBLE)
        |    / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS subwords_per_word
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "q28_lang_id" ->
      """WITH scored AS (
        |  SELECT lang,
        |    len(list_intersect(list_distinct(string_split(text,' ')), ['the','a','of','and','fast','slow'])) AS s_en,
        |    len(list_intersect(list_distinct(string_split(text,' ')), ['der','die','und','nicht'])) AS s_de,
        |    len(list_intersect(list_distinct(string_split(text,' ')), ['el','la','que','de'])) AS s_es,
        |    len(list_intersect(list_distinct(string_split(text,' ')), ['le','la','et','les'])) AS s_fr
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
        |       WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
        |       WHEN s_es > greatest(s_en, s_de) THEN 'es'
        |       WHEN s_de > s_en THEN 'de'
        |       ELSE 'en' END AS guess,
        |  COUNT(*) AS n
        |FROM scored GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin,
    "q29_quality_hist" ->
      """WITH f AS (
        |  SELECT CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS ttr,
        |         len(string_split(text,' ')) AS ntok,
        |         CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE) / len(string_split(text,' ')) AS awl
        |  FROM documents)
        |SELECT CAST(floor((ttr*0.5
        |         + (CASE WHEN ntok BETWEEN 8 AND 256 THEN 1.0 ELSE 0.0 END)*0.25
        |         + (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)*0.25) * 10) AS BIGINT) AS bucket,
        |       COUNT(*) AS n
        |FROM f GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q30_fingerprint" ->
      s"""SELECT source, COUNT(*) AS n, COUNT(DISTINCT $fpSql) AS n_fp
         |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    "q48_top_tokens" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT lang, tok, COUNT(*) AS n FROM t GROUP BY 1, 2),
        |r AS (SELECT lang, tok, n,
        |             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rn
        |      FROM c)
        |SELECT lang, CAST(rn AS BIGINT) AS rnk, tok AS token, CAST(n AS BIGINT) AS n
        |FROM r WHERE rn <= 5 ORDER BY lang, rnk""".stripMargin,
    // the sampler is plain integer arithmetic — DuckDB reproduces
    // membership exactly (same Knuth multiplicative hash)
    "q97_stratified_sample" ->
      """WITH u AS (
        |  SELECT lang, doc_id,
        |    CAST(((doc_id % 2147483648) * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 AS uni
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang ORDER BY uni, doc_id) AS rnk
        |  FROM u)
        |SELECT lang, CAST(rnk AS BIGINT) AS rank, doc_id
        |FROM r WHERE rnk <= 20 ORDER BY lang, rank""".stripMargin,
    "q58_weighted_sample" ->
      """WITH u AS (
        |  SELECT lang, text,
        |    CAST(((doc_id % 2147483648) * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 AS uni
        |  FROM documents),
        |s AS (
        |  SELECT lang, COUNT(*) AS n_sampled,
        |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sampled_tokens
        |  FROM u
        |  WHERE uni < CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.5
        |                        WHEN 'es' THEN 0.5 WHEN 'fr' THEN 0.3
        |                        WHEN 'zh' THEN 1.0 ELSE 0.0 END
        |  GROUP BY 1)
        |SELECT d.lang, COUNT(*) AS n_docs,
        |       COALESCE(ANY_VALUE(s.n_sampled), 0) AS n_sampled,
        |       COALESCE(ANY_VALUE(s.sampled_tokens), 0) AS sampled_tokens
        |FROM documents d LEFT JOIN s ON d.lang = s.lang
        |GROUP BY 1 ORDER BY d.lang""".stripMargin,
    // q59: every stage mirrored exactly — q29's quality formula,
    // q30's fingerprint, q58's sampler, the split hash
    "q59_training_shard" ->
      s"""WITH f AS (
         |  SELECT doc_id, lang, text,
         |    len(string_split(text,' ')) AS ntok,
         |    CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS ttr,
         |    CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE) / len(string_split(text,' ')) AS awl
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, lang, text FROM f
         |  WHERE ttr*0.5 + (CASE WHEN ntok BETWEEN 8 AND 256 THEN 1.0 ELSE 0.0 END)*0.25
         |      + (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)*0.25 >= 0.5),
         |d AS (
         |  SELECT doc_id, lang, text,
         |         row_number() OVER (PARTITION BY $fpSql ORDER BY doc_id) AS rn
         |  FROM q),
         |s AS (
         |  SELECT doc_id, lang, text,
         |    CAST(((doc_id % 2147483648) * 2654435761) % 4294967296 AS DOUBLE)/4294967296.0 AS uni,
         |    CAST(((doc_id % 2147483648) * 2246822519) % 4294967296 AS DOUBLE)/4294967296.0 AS uni2
         |  FROM d WHERE rn = 1),
         |k AS (
         |  SELECT lang, text,
         |    CASE WHEN uni2 < 0.9 THEN 'train' WHEN uni2 < 0.95 THEN 'val' ELSE 'test' END AS split
         |  FROM s
         |  WHERE uni < CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.5 WHEN 'es' THEN 0.5
         |                        WHEN 'fr' THEN 0.3 WHEN 'zh' THEN 1.0 ELSE 0.0 END)
         |SELECT lang, split, COUNT(*) AS n_docs,
         |       CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens
         |FROM k GROUP BY 1,2 ORDER BY lang, split""".stripMargin,
    "q31_ngram_jaccard" -> jaccardSql,
    "q32_minhash_neardup" -> jaccardSql,
    // the prefix-filter join is lossless, so it answers to the same
    // exhaustive-join oracle as q31/q32
    "q102_prefix_jaccard" -> jaccardSql,
    // same count model over string bigram features; each delta is
    // the identical ln/round sequence, per-doc sums are integers
    "q114_dsir_weights" ->
      """WITH docs AS (SELECT doc_id, lang, string_split(text, ' ') AS a FROM documents),
        |big AS (
        |  SELECT doc_id, lang, a[i] || ' ' || a[i + 1] AS f
        |  FROM (SELECT doc_id, lang, a,
        |          unnest(generate_series(1, greatest(len(a) - 1, 0))) AS i
        |        FROM docs)),
        |rm AS (SELECT f, COUNT(*) AS nr FROM big GROUP BY 1),
        |tm AS (SELECT f, COUNT(*) AS nt FROM big WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT (SELECT COUNT(*) FROM big) AS totr,
        |               (SELECT COUNT(*) FROM big WHERE lang = 'en') AS tott,
        |               (SELECT COUNT(*) FROM rm) AS nfeat),
        |d AS (
        |  SELECT rm.f,
        |         CAST(round((ln(CAST(COALESCE(nt, 0) + 1 AS DOUBLE) /
        |                         CAST(tott + nfeat AS DOUBLE))
        |                   - ln(CAST(nr + 1 AS DOUBLE) /
        |                         CAST(totr + nfeat AS DOUBLE))) * 1e9) AS BIGINT) AS delta9
        |  FROM rm LEFT JOIN tm USING (f) CROSS JOIN tot)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
        |       CAST(SUM(delta9) AS BIGINT) AS logw9,
        |       CAST((CASE WHEN SUM(delta9) < 0 THEN -1 ELSE 1 END)
        |         * ((abs(CAST(SUM(delta9) AS BIGINT)) + 500) // 1000)
        |         AS DOUBLE) / 1e6 AS logw
        |FROM big JOIN d USING (f)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // q31's edge set + q60's recursive min-label components, folded
    // to sizes and 1/size weights; singletons weigh exactly 1.0
    "q115_soft_dedup_weights" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g FROM idx),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_i, b.doc_id AS id_j, COUNT(*) AS inter
        |          FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |edges AS (SELECT id_i, id_j FROM pairs
        |  JOIN sizes sa ON sa.doc_id = id_i JOIN sizes sb ON sb.doc_id = id_j
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        |sym AS (SELECT id_i AS a, id_j AS b FROM edges UNION SELECT id_j, id_i FROM edges),
        |reach AS (
        |  SELECT a AS id, a AS comp FROM sym
        |  UNION
        |  SELECT s.a, r.comp FROM sym s JOIN reach r ON s.b = r.id),
        |comp AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),
        |cs AS (SELECT component, COUNT(*) AS csz FROM comp GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS cluster_id,
        |       CAST(COALESCE(cs.csz, 1) AS BIGINT) AS cluster_size,
        |       CAST((2000000 + COALESCE(cs.csz, 1))
        |            // (2 * COALESCE(cs.csz, 1)) AS DOUBLE) / 1e6 AS weight
        |FROM documents d
        |LEFT JOIN comp c ON c.id = d.doc_id
        |LEFT JOIN cs ON cs.component = c.component
        |ORDER BY d.doc_id""".stripMargin,
    // q151: q108's base-features + copy-count CTEs verbatim — the
    // streaming state store's final emissions must equal the one-shot
    // batch recompute
    "q151_streaming_docfeat" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) * 0.5
         |      + (CASE WHEN len(string_split(text,' ')) BETWEEN 8 AND 256 THEN 1.0 ELSE 0.0 END) * 0.25
         |      + (CASE WHEN CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE) / len(string_split(text,' ')) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.25, 6) AS quality,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         |       + len(regexp_extract_all(text, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b'))
         |       + len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_pii,
         |    $fpSql AS fp
         |  FROM documents),
         |fpc AS (SELECT fp, COUNT(*) AS n_fp_copies FROM base GROUP BY 1)
         |SELECT b.doc_id, b.lang, b.n_tokens, b.quality, b.n_pii, b.fp,
         |       fpc.n_fp_copies
         |FROM base b JOIN fpc USING (fp)
         |ORDER BY b.doc_id""".stripMargin,
    // the q101 + q107 CTEs re-assembled around the scan-projection
    // features; float expressions repeat their source query's exact
    // op sequences
    "q108_doc_features" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
         |base AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) * 0.5
         |      + (CASE WHEN len(string_split(text,' ')) BETWEEN 8 AND 256 THEN 1.0 ELSE 0.0 END) * 0.25
         |      + (CASE WHEN CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE) / len(string_split(text,' ')) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.25, 6) AS quality,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         |       + len(regexp_extract_all(text, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b'))
         |       + len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_pii,
         |    $fpSql AS fp
         |  FROM documents),
         |fpc AS (SELECT fp, COUNT(*) AS n_fp_copies FROM base GROUP BY 1),
         |pos AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS s, array_to_string(a[i:i+7], ' ') AS sh
         |  FROM (SELECT doc_id, a, unnest(generate_series(1, greatest(len(a) - 7, 0))) AS i FROM docs)),
         |rep AS (SELECT sh FROM pos GROUP BY sh HAVING COUNT(*) > 1),
         |hits AS (SELECT doc_id, s FROM pos JOIN rep USING (sh)),
         |isl AS (
         |  SELECT doc_id, s, MAX(s + 7) OVER (PARTITION BY doc_id ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
         |  FROM hits),
         |isl2 AS (
         |  SELECT doc_id, s, SUM(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |  FROM isl),
         |spans AS (SELECT doc_id, run, MIN(s) AS s0, MAX(s + 7) AS e0 FROM isl2 GROUP BY 1, 2),
         |spanagg AS (SELECT doc_id, CAST(SUM(e0 - s0 + 1) AS BIGINT) AS dup_tokens
         |            FROM spans GROUP BY 1),
         |big AS (
         |  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
         |  FROM (SELECT doc_id, a, unnest(generate_series(1, greatest(len(a) - 1, 0))) AS i FROM docs)),
         |cg AS (SELECT w1, w2, COUNT(*) AS cnt FROM big GROUP BY 1, 2),
         |cp AS (SELECT w1, COUNT(*) AS pc FROM big GROUP BY 1),
         |v AS (SELECT COUNT(DISTINCT tok) AS v FROM
         |       (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
         |lp AS (
         |  SELECT doc_id, CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / CAST(pc + v AS DOUBLE)) * 1e9) AS BIGINT) AS lp9
         |  FROM big JOIN cg USING (w1, w2) JOIN cp USING (w1) CROSS JOIN v),
         |lm AS (
         |  SELECT doc_id,
         |    CAST((CASE WHEN SUM(lp9) < 0 THEN -1 ELSE 1 END)
         |      * ((2 * abs(CAST(SUM(lp9) AS BIGINT)) + 1000 * COUNT(*))
         |         // (2000 * COUNT(*))) AS DOUBLE) / 1e6 AS avg_logprob
         |  FROM lp GROUP BY 1)
         |SELECT b.doc_id, b.lang, b.n_tokens, b.quality, b.n_pii,
         |       fpc.n_fp_copies,
         |       round(COALESCE(sa.dup_tokens, 0) / CAST(b.n_tokens AS DOUBLE), 6) AS dup_frac,
         |       lm.avg_logprob
         |FROM base b
         |JOIN fpc USING (fp)
         |LEFT JOIN spanagg sa ON sa.doc_id = b.doc_id
         |LEFT JOIN lm ON lm.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    // identical count model + the same single ln/round op sequence
    // per bigram; integer sums, one division at the end
    "q107_bigram_lm" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |big AS (
        |  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
        |  FROM (SELECT doc_id, a,
        |          unnest(generate_series(1, greatest(len(a) - 1, 0))) AS i
        |        FROM docs)),
        |cg AS (SELECT w1, w2, COUNT(*) AS cnt FROM big GROUP BY 1, 2),
        |cp AS (SELECT w1, COUNT(*) AS pc FROM big GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT tok) AS v FROM
        |       (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
        |lp AS (
        |  SELECT doc_id,
        |         CAST(round(ln(CAST(cnt + 1 AS DOUBLE) /
        |                       CAST(pc + v AS DOUBLE)) * 1e9) AS BIGINT) AS lp9
        |  FROM big JOIN cg USING (w1, w2) JOIN cp USING (w1) CROSS JOIN v)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       CAST(SUM(lp9) AS BIGINT) AS sum_lp9,
        |       CAST((CASE WHEN SUM(lp9) < 0 THEN -1 ELSE 1 END)
        |         * ((2 * abs(CAST(SUM(lp9) AS BIGINT)) + 1000 * COUNT(*))
        |            // (2000 * COUNT(*))) AS DOUBLE) / 1e6
        |         AS avg_logprob
        |FROM lp GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // identical postings/repeated/islands algebra over shingle
    // STRINGS; islands merge overlapping-or-adjacent [s, s+7] runs
    "q101_dup_spans" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |pos AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS s,
        |         array_to_string(a[i:i+7], ' ') AS sh
        |  FROM (SELECT doc_id, a,
        |          unnest(generate_series(1, greatest(len(a) - 7, 0))) AS i
        |        FROM docs)),
        |rep AS (SELECT sh FROM pos GROUP BY sh HAVING COUNT(*) > 1),
        |hits AS (SELECT doc_id, s FROM pos JOIN rep USING (sh)),
        |isl AS (
        |  SELECT doc_id, s,
        |         MAX(s + 7) OVER (PARTITION BY doc_id ORDER BY s
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM hits),
        |isl2 AS (
        |  SELECT doc_id, s,
        |         SUM(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY s
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM isl),
        |spans AS (SELECT doc_id, run, MIN(s) AS s0, MAX(s + 7) AS e0
        |          FROM isl2 GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(SUM(e0 - s0 + 1) AS BIGINT) AS dup_tokens,
        |               CAST(COUNT(*) AS BIGINT) AS n_spans
        |        FROM spans GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |       COALESCE(a.dup_tokens, 0) AS dup_tokens,
        |       COALESCE(a.n_spans, 0) AS n_spans,
        |       round(COALESCE(a.dup_tokens, 0) /
        |             CAST(len(string_split(d.text, ' ')) AS DOUBLE), 6) AS dup_frac
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // q61: the same planted construction + the same RE2-safe
    // patterns; DuckDB counts via regexp_extract_all and redacts
    // with the 'g' flag.
    "q61_pii_scrub" ->
      """WITH p AS (
        |  SELECT lang, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS t
        |  FROM documents),
        |c AS (
        |  SELECT lang,
        |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
        |    len(regexp_extract_all(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS np,
        |    len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ni,
        |    length(t) - length(
        |      regexp_replace(regexp_replace(regexp_replace(t,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS delta
        |  FROM p)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(ne) AS BIGINT) AS n_emails,
        |  CAST(SUM(np) AS BIGINT) AS n_phones,
        |  CAST(SUM(ni) AS BIGINT) AS n_ips,
        |  CAST(SUM(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted_docs,
        |  CAST(SUM(delta) AS BIGINT) AS chars_delta
        |FROM c GROUP BY 1 ORDER BY lang""".stripMargin,
    // q62: bigram distincts and top-token counts via explode (the
    // oracle only needs correctness, not the HOF projection shape).
    "q62_repetition_stats" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |base AS (SELECT doc_id, lang, len(t) AS ntok, len(list_distinct(t)) AS ndis,
        |                GREATEST(len(t) - 1, 0) AS nbig FROM d),
        |bi AS (SELECT doc_id, COUNT(DISTINCT g) AS ndisbi FROM (
        |         SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
        |         FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d WHERE len(t) >= 2))
        |       GROUP BY 1),
        |tp AS (SELECT doc_id, MAX(c) AS maxc FROM (
        |         SELECT doc_id, COUNT(*) AS c
        |         FROM (SELECT doc_id, unnest(t) AS tok FROM d) GROUP BY doc_id, tok)
        |       GROUP BY 1)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(ndis) AS BIGINT) AS sum_distinct_tokens,
        |  CAST(SUM(nbig) AS BIGINT) AS sum_bigrams,
        |  CAST(SUM(COALESCE(ndisbi, 0)) AS BIGINT) AS sum_distinct_bigrams,
        |  CAST(SUM(CASE WHEN maxc * 5 > ntok THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_top,
        |  CAST(SUM(CASE WHEN (nbig - COALESCE(ndisbi, 0)) * 5 > nbig THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_rep
        |FROM base LEFT JOIN bi USING (doc_id) LEFT JOIN tp USING (doc_id)
        |GROUP BY 1 ORDER BY lang""".stripMargin,
    // q63: same 4-gram shingling in string form (hash-equality in
    // Spark ≡ string-equality modulo xxhash64 collisions, the same
    // trade q31/q32 already rely on).
    "q63_decontaminate" -> contaminationSql,
    // q72: exact side + literal-true flags, per the q39 approximate
    // contract (SURVEY §6.2) — the flags are Spark-side self-checks.
    "q72_hll_shards" ->
      """SELECT lang, COUNT(DISTINCT doc_id) AS exact_docs, COUNT(*) AS n_docs,
        |       TRUE AS hll_source_ok, TRUE AS hll_mod_ok
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    // q70 == q63 by construction (bloom prune is lossless after the
    // exact verify) — one shared oracle definition.
    "q70_decontaminate_bloom" -> contaminationSql,
    // q74: identical min-of-w md5 keys — hex strings compare the
    // same in both engines, so selection is bit-identical.
    "q74_weighted_topk_sample" ->
      """WITH w AS (SELECT doc_id, lang, 1 + doc_id % 5 AS wt FROM documents),
        |e AS (SELECT doc_id, lang, wt, unnest(range(0, wt)) AS j FROM w),
        |u AS (SELECT doc_id, lang, wt,
        |        MIN(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR))) AS ukey
        |      FROM e GROUP BY 1, 2, 3)
        |SELECT lang, doc_id, wt, rnk FROM (
        |  SELECT lang, doc_id, wt,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY ukey, doc_id) AS BIGINT) AS rnk
        |  FROM u)
        |WHERE rnk <= 3 ORDER BY lang, rnk""".stripMargin,
    // q65: the whole funnel in one SQL — q29's quality formula, q30's
    // fingerprint dedup, q31's pair edges closed transitively
    // (recursive CTE), q63's 4-gram contamination, q58's sampler,
    // q64's window-cumsum packing.
    "q65_curation_funnel" ->
      s"""WITH RECURSIVE
         |f AS (
         |  SELECT doc_id, lang, text,
         |    len(string_split(text,' ')) AS ntok,
         |    CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS ttr,
         |    CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE) / len(string_split(text,' ')) AS awl
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, lang, text FROM f
         |  WHERE ttr*0.5 + (CASE WHEN ntok BETWEEN 8 AND 256 THEN 1.0 ELSE 0.0 END)*0.25
         |      + (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)*0.25 >= 0.5),
         |x AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text, row_number() OVER (PARTITION BY $fpSql ORDER BY doc_id) AS rn FROM q)
         |  WHERE rn = 1),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM x),
         |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
         |sh3 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g FROM idx),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh3 GROUP BY 1),
         |pr AS (SELECT a.doc_id AS id_i, b.doc_id AS id_j, COUNT(*) AS inter
         |       FROM sh3 a JOIN sh3 b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |edges AS (SELECT id_i, id_j FROM pr
         |  JOIN sizes sa ON sa.doc_id = id_i JOIN sizes sb ON sb.doc_id = id_j
         |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
         |sym AS (SELECT id_i AS a, id_j AS b FROM edges UNION SELECT id_j, id_i FROM edges),
         |reach AS (
         |  SELECT a AS id, a AS comp FROM sym
         |  UNION
         |  SELECT s.a, r.comp FROM sym s JOIN reach r ON s.b = r.id),
         |noncanon AS (SELECT id FROM (SELECT id, MIN(comp) AS c FROM reach GROUP BY id) WHERE id <> c),
         |canon AS (SELECT * FROM x WHERE doc_id NOT IN (SELECT id FROM noncanon)),
         |btoks AS (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 23 = 0),
         |bsh AS (SELECT DISTINCT array_to_string(t[i:i+3], ' ') AS g
         |        FROM (SELECT t, unnest(range(1, len(t) - 2)) AS i FROM btoks WHERE len(t) >= 4)),
         |ctoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM canon WHERE doc_id % 23 <> 0),
         |csh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS g
         |        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 2)) AS i FROM ctoks WHERE len(t) >= 4)),
         |cont AS (SELECT DISTINCT doc_id FROM csh WHERE g IN (SELECT g FROM bsh)),
         |clean AS (SELECT * FROM canon
         |          WHERE doc_id % 23 <> 0 AND doc_id NOT IN (SELECT doc_id FROM cont)),
         |mixed AS (
         |  SELECT doc_id, lang, text FROM clean
         |  WHERE CAST(((doc_id % 2147483648) * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0
         |      < CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.5 WHEN 'es' THEN 0.5
         |                  WHEN 'fr' THEN 0.3 WHEN 'zh' THEN 1.0 ELSE 0.0 END),
         |packed AS (
         |  SELECT doc_id, len(string_split(text,' ')) AS tok,
         |    SUM(len(string_split(text,' '))) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - len(string_split(text,' ')) AS start
         |  FROM mixed)
         |SELECT CAST(start // 4096 AS BIGINT) AS shard, COUNT(*) AS n_docs,
         |  CAST(SUM(tok) AS BIGINT) AS n_tokens, MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM packed GROUP BY 1 ORDER BY shard""".stripMargin,
    // q64: single-window cumsum form of the same packing.
    "q64_sequence_packing" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT doc_id, tok,
        |        SUM(tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS start
        |      FROM d)
        |SELECT CAST(start // 4096 AS BIGINT) AS shard, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin,
    // q60: transitive closure of the q31 edge set — min reachable id
    // per node via a recursive CTE (the oracle-side equivalent of
    // the distributed star rounds).
    "q60_neardup_clusters" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g FROM idx),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_i, b.doc_id AS id_j, COUNT(*) AS inter
        |          FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |edges AS (SELECT id_i, id_j FROM pairs
        |  JOIN sizes sa ON sa.doc_id = id_i JOIN sizes sb ON sb.doc_id = id_j
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        |sym AS (SELECT id_i AS a, id_j AS b FROM edges UNION SELECT id_j, id_i FROM edges),
        |reach AS (
        |  SELECT a AS id, a AS comp FROM sym
        |  UNION
        |  SELECT s.a, r.comp FROM sym s JOIN reach r ON s.b = r.id)
        |SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(comp) AS BIGINT) AS component,
        |       id = MIN(comp) AS is_canonical
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "q45_embedding_neardup" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
         |p AS (
         |  SELECT a.vec_id AS id_i, b.vec_id AS id_j,
         |    SUM(${qiSql("a.embedding[i]")} * ${qiSql("b.embedding[i]")}) AS dot,
         |    SUM(${qiSql("a.embedding[i]")} * ${qiSql("a.embedding[i]")}) AS n2a,
         |    SUM(${qiSql("b.embedding[i]")} * ${qiSql("b.embedding[i]")}) AS n2b
         |  FROM corpus a, corpus b, range(1, 65) AS u(i)
         |  WHERE a.vec_id < b.vec_id
         |  GROUP BY 1, 2)
         |SELECT id_i, id_j, round(cos, 6) AS cosine FROM (
         |  SELECT id_i, id_j,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) AS cos
         |  FROM p)
         |WHERE cos >= 0.95 ORDER BY id_i, id_j""".stripMargin,
    // q117: exact word/char projections; the BPE flags are TRUE when
    // the train+apply machinery holds its invariants.
    "q117_bpe_tokenize" ->
      """WITH d AS (SELECT lang,
        |  len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS nw,
        |  length(replace(text, ' ', '')) AS nc
        |FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(nw) AS BIGINT) AS n_words,
        |  CAST(SUM(nc) AS BIGINT) AS n_chars,
        |  TRUE AS roundtrip_ok, TRUE AS compress_ok, TRUE AS vocab_ok
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    // q116: the planted copies (id + 2e7, identical vector) are the
    // expected output, with the exact integer cosine triple — for an
    // identical pair qdot = n2_i = n2_j = Σ qi², so the oracle is a
    // per-vector norm scan, and the Spark side must recover exactly
    // these pairs through the k-means route (a vanished pair means
    // the copies straddled clusters = machinery broke).
    "q116_semantic_dedup" ->
      s"""WITH src AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0),
         |n AS (
         |  SELECT vec_id,
         |    CAST(SUM(${qiSql("embedding[i]")} * ${qiSql("embedding[i]")}) AS BIGINT) AS n2
         |  FROM src, range(1, 65) AS u(i)
         |  GROUP BY 1)
         |SELECT vec_id AS id_keep, vec_id + 20000000 AS id_drop,
         |       n2 AS qdot, n2 AS n2_i, n2 AS n2_j
         |FROM n ORDER BY id_keep""".stripMargin,
    // q136: the planted NEAR-pair truth (component-0-negated copies,
    // cos ≥ 0.9) is a per-vector scan — qdot = n2 − 2·qi(v₀)², equal
    // norms — and the two recall flags are TRUE when the assignment
    // machinery (flat AND two-level-routed) holds its floors. The
    // cosine threshold replays the exact Spark expression
    // (dot / (√n2·√n2), NOT dot/n2 — sqrt(a)·sqrt(a) ≠ a in IEEE).
    "q136_semdedup_recall" ->
      s"""WITH src AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0),
         |n AS (
         |  SELECT vec_id,
         |    CAST(SUM(${qiSql("embedding[i]")} * ${qiSql("embedding[i]")}) AS BIGINT) AS n2,
         |    CAST(SUM(CASE WHEN i = 1
         |      THEN ${qiSql("embedding[i]")} * ${qiSql("embedding[i]")}
         |      ELSE 0 END) AS BIGINT) AS h0
         |  FROM src, range(1, 65) AS u(i)
         |  GROUP BY 1)
         |SELECT vec_id AS id_keep, vec_id + 30000000 AS id_drop,
         |       n2 - 2*h0 AS qdot, n2 AS n2_i, n2 AS n2_j,
         |       TRUE AS exact_ok, TRUE AS routed_ok
         |FROM n
         |WHERE CAST(n2 - 2*h0 AS DOUBLE) /
         |      (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) >= 0.9
         |ORDER BY id_keep""".stripMargin,
    "q34_cosine_topk" -> bruteTopKSql(""),
    // q35/q47 emit the same exact projection; their ANN twin only
    // drives the recall_ok flag, TRUE when healthy.
    "q35_ann_lsh_topk" -> bruteTopKSql(", TRUE AS recall_ok"),
    "q47_ann_ivf_topk" -> bruteTopKSql(", TRUE AS recall_ok"),
    "q138_ann_pq_topk" -> bruteTopKSql(", TRUE AS recall_ok"),
    // q154: exact brute rows + the two deterministic lifecycle flags
    "q154_ann_index_lifecycle" ->
      bruteTopKSql(", TRUE AS recall_ok, TRUE AS lifecycle_ok"),
    // q185: brute rows over the POST-PURGE corpus (base ∪ append −
    // deleteWhere) + the CDF-maintenance flags — a stale or
    // unforgotten store breaks them, a mispruned corpus breaks the
    // values
    "q185_cdf_ann_index" ->
      bruteTopKSql(
        ", TRUE AS recall_ok, TRUE AS store_matches_rebuild," +
          " TRUE AS forget_propagated",
        " AND e.vec_id % 11 <> 5"),
    // q33: the planted exact copies are the full expected output —
    // identical text must land at hamming distance 0.
    "q33_simhash_neardup" ->
      """SELECT CAST(doc_id AS BIGINT) AS id_i,
        |       CAST(doc_id + 1000000 AS BIGINT) AS id_j,
        |       CAST(0 AS BIGINT) AS dist
        |FROM documents WHERE doc_id % 5 = 0 ORDER BY id_i""".stripMargin,
    // q56: the exact head (q48's contract) + the sketch-invariant
    // flag, TRUE when the sketch holds its documented bounds.
    "q56_top_tokens_sketch" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT lang, tok, COUNT(*) AS n FROM t GROUP BY 1, 2),
        |r AS (SELECT lang, tok, n,
        |             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rn
        |      FROM c)
        |SELECT lang, CAST(rn AS BIGINT) AS rnk, tok AS token, CAST(n AS BIGINT) AS n,
        |       TRUE AS bound_ok
        |FROM r WHERE rn <= 5 ORDER BY lang, rnk""".stripMargin,
    // q66: same quantizer in DuckDB list lambdas (round parity at
    // exact .5 products is the same trade the qi() machinery of
    // q34/q36/q45 already relies on).
    "q66_int8_quantize" ->
      """WITH q AS (
        |  SELECT label,
        |    CASE WHEN list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) > 0
        |      THEN list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) *
        |        (127.0 / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))))) AS INT))
        |      ELSE list_transform(embedding, x -> 0) END AS qv
        |  FROM embeddings),
        |s AS (
        |  SELECT label, list_sum(qv) AS sq,
        |    len(list_filter(qv, v -> abs(v) = 127)) AS sat,
        |    (len(list_filter(qv, v -> abs(v) > 127)) = 0
        |      AND list_max(list_transform(qv, v -> abs(v))) IN (127, 0)) AS ok
        |  FROM q)
        |SELECT label, COUNT(*) AS n_vecs, CAST(SUM(sq) AS BIGINT) AS sum_q,
        |  CAST(SUM(sat) AS BIGINT) AS n_sat,
        |  CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_bad
        |FROM s GROUP BY 1 ORDER BY label""".stripMargin,
    "q36_embedding_norms" ->
      s"""SELECT label, COUNT(*) AS n,
         |       CAST(SUM(n2) AS BIGINT) AS sum_n2,
         |       CAST(SUM(n2) AS DOUBLE) / 1000000000000.0 / COUNT(*) AS avg_norm2
         |FROM (
         |  SELECT label, (SELECT SUM(${qiSql("embedding[i]")} * ${qiSql("embedding[i]")})
         |                 FROM range(1, 65) AS u(i)) AS n2
         |  FROM embeddings)
         |GROUP BY 1 ORDER BY label""".stripMargin,
    // q118: one 10⁶-scaled half-up integer per ratio drives both the
    // emitted value and its verdict (flag/value can never disagree —
    // mirrors QualityRules.report exactly); list_intersect mirrors
    // array_intersect's distinct semantics
    "q118_gopher_rules" ->
      s"""WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text,'#'))
        |       + len(regexp_extract_all(text,'\\.\\.\\.')) AS BIGINT) AS nsym,
        |    CAST(len(list_filter(string_split(text,' '),
        |         t -> regexp_matches(t,'[a-zA-Z]'))) AS BIGINT) AS nalpha,
        |    CAST(len(list_intersect(string_split(text,' '),
        |         ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS nstops
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, n_words, nstops,
        |    ${graft.llm.ExactRound.micro6Sql("n_chars - n_words + 1", "n_words")} AS mwl_u,
        |    ${graft.llm.ExactRound.micro6Sql("nsym", "n_words")} AS sym_u,
        |    ${graft.llm.ExactRound.micro6Sql("nalpha", "n_words")} AS alpha_u
        |  FROM f)
        |SELECT doc_id, n_words,
        |  CAST(mwl_u AS DOUBLE) / 1e6 AS mean_word_len,
        |  CAST(sym_u AS DOUBLE) / 1e6 AS symbol_ratio,
        |  CAST(alpha_u AS DOUBLE) / 1e6 AS alpha_frac,
        |  nstops AS n_stops,
        |  (n_words BETWEEN 50 AND 100000) AS words_ok,
        |  (mwl_u BETWEEN 3000000 AND 10000000) AS wordlen_ok,
        |  (sym_u <= 100000) AS symbol_ok,
        |  (alpha_u >= 800000) AS alpha_ok,
        |  (nstops >= 2) AS stop_ok,
        |  ((n_words BETWEEN 50 AND 100000) AND (mwl_u BETWEEN 3000000 AND 10000000)
        |    AND (sym_u <= 100000) AND (alpha_u >= 800000)
        |    AND (nstops >= 2)) AS pass
        |FROM u ORDER BY doc_id""".stripMargin,
    // q119: raw-string 8-grams stand in for the Spark side's
    // xxhash64'd ones (q31's established 64-bit-collision trade);
    // threshold compares the unrounded ratio, as the Spark side does
    "q119_contamination_graded" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        |        FROM toks WHERE len(t) >= 8),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS g FROM idx),
        |bsh AS (SELECT doc_id AS bench_id, g FROM sh WHERE doc_id % 97 = 0),
        |bsz AS (SELECT bench_id, COUNT(*) AS bench_ngrams FROM bsh GROUP BY 1),
        |ins AS (SELECT s.doc_id AS train_id, b.bench_id, COUNT(*) AS inter
        |        FROM sh s JOIN bsh b USING (g) GROUP BY 1, 2)
        |SELECT bench_id, train_id, CAST(bench_ngrams AS BIGINT) AS bench_ngrams,
        |  CAST(inter AS BIGINT) AS inter,
        |  ${graft.llm.ExactRound.round6Sql("CAST(inter AS BIGINT)", "CAST(bench_ngrams AS BIGINT)")} AS containment
        |FROM ins JOIN bsz USING (bench_id)
        |WHERE CAST(inter AS DOUBLE)/bench_ngrams >= 0.5
        |ORDER BY bench_id, train_id""".stripMargin,
    // q120: the planted perturbations and the normalization chain
    // replay identically (chr(160)=NBSP, chr(8220/8221)=curly quotes)
    "q120_normalize" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, (doc_id % 7 = 0) AS ws_planted,
         |         (doc_id % 11 = 0) AS q_planted,
         |    CASE WHEN doc_id % 7 = 0
         |         THEN '  ' || replace(text, ' ', '  ') || chr(160)
         |         ELSE text END AS s1
         |  FROM documents),
         |d2 AS (SELECT doc_id, text, ws_planted, q_planted,
         |         CASE WHEN q_planted THEN chr(8220) || s1 || chr(8221)
         |              ELSE s1 END AS dirty
         |       FROM d)
         |SELECT doc_id, ws_planted, q_planted,
         |  CAST(length(dirty) AS BIGINT) AS n_chars_dirty,
         |  CAST(length(${graft.llm.Normalize.normalizeSql("dirty")}) AS BIGINT) AS n_chars_norm,
         |  (${graft.llm.Normalize.normalizeSql("dirty")} = text) AS restored,
         |  substr(md5(${graft.llm.Normalize.normalizeSql("dirty")}), 1, 8) AS fp8
         |FROM d2 ORDER BY doc_id""".stripMargin,
    // q121: floor-division batch/bucket ordinals and one exact-long
    // division for pad_frac; HUGEINT sums cast back to BIGINT
    "q121_length_batching" ->
      s"""WITH b AS (
        |  SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |    CAST(floor(len(string_split(text,' ')) / 16.0) AS BIGINT) AS bucket,
        |    doc_id % 4 AS salt
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY bucket, salt ORDER BY n_tokens, doc_id) AS rn
        |      FROM b),
        |g AS (SELECT bucket, salt, CAST(floor((rn - 1) / 8.0) AS BIGINT) AS batch,
        |        COUNT(*) AS n_docs, MAX(n_tokens) AS max_len,
        |        SUM(n_tokens) AS total_tokens
        |      FROM r GROUP BY 1, 2, 3)
        |SELECT bucket, salt, batch, CAST(n_docs AS BIGINT) AS n_docs, max_len,
        |  CAST(total_tokens AS BIGINT) AS total_tokens,
        |  CAST(n_docs * max_len - total_tokens AS BIGINT) AS pad_tokens,
        |  ${graft.llm.ExactRound.round6Sql(
             "CAST(n_docs * max_len - total_tokens AS BIGINT)",
             "CAST(n_docs * max_len AS BIGINT)")} AS pad_frac
        |FROM g ORDER BY bucket, salt, batch""".stripMargin,
    // q122: the oracle cannot decode PNG — it replays ImageGen's
    // closed-form pixel construction (same BT.601 integer luma the
    // decoder accumulates) and must agree with the REAL ImageIO
    // decode bit-for-bit on every exact-integer column
    "q122_image_decode" ->
      s"""WITH ids AS (SELECT doc_id, CAST(16 + doc_id % 17 AS BIGINT) AS w,
        |                    CAST(16 + doc_id % 13 AS BIGINT) AS h
        |             FROM documents WHERE doc_id % 97 = 0),
        |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM ids),
        |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
        |lm AS (SELECT doc_id, w, h,
        |    299*((7*x + 13*y + doc_id) % 256)
        |    + 587*((3*x + 5*y + 2*doc_id) % 256)
        |    + 114*((x + y + 3*doc_id) % 256) AS l
        |  FROM px),
        |a AS (SELECT doc_id, w, h, COUNT(*) AS n_px, SUM(l) AS luma_sum,
        |             COUNT(DISTINCT l // 1000) AS luma_bins
        |      FROM lm GROUP BY 1, 2, 3)
        |SELECT doc_id, 'png' AS format, TRUE AS decode_ok, w AS width,
        |  h AS height, CAST(3 AS BIGINT) AS channels,
        |  CAST(n_px AS BIGINT) AS n_px, CAST(luma_sum AS BIGINT) AS luma_sum,
        |  CAST(luma_bins AS BIGINT) AS luma_bins,
        |  ${graft.llm.ExactRound.round6Sql(
             "CAST(luma_sum AS BIGINT)", "1000 * n_px")} AS luma_mean
        |FROM a ORDER BY doc_id""".stripMargin,
    // q123: the q31/q102 trigram pair model, thresholded by exact
    // integer arithmetic at each grid point; grid left-joined so
    // zero-pair thresholds still report
    "q123_dedup_sensitivity" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g FROM idx),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_i, b.doc_id AS id_j, COUNT(*) AS inter
        |          FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT id_i, id_j, CAST(inter AS BIGINT) AS inter,
        |             CAST(sa.sz + sb.sz - inter AS BIGINT) AS su
        |      FROM pairs
        |      JOIN sizes sa ON sa.doc_id = id_i
        |      JOIN sizes sb ON sb.doc_id = id_j
        |      WHERE 5 * inter >= 4 * (sa.sz + sb.sz - inter)),
        |g AS (SELECT CAST(unnest([80, 85, 90, 95]) AS BIGINT) AS threshold_pct),
        |m AS (SELECT threshold_pct, id_i, id_j FROM j, g
        |      WHERE 100 * inter >= threshold_pct * su),
        |np AS (SELECT threshold_pct, COUNT(*) AS n_pairs FROM m GROUP BY 1),
        |nd AS (SELECT threshold_pct, COUNT(DISTINCT d) AS n_dup_docs
        |       FROM (SELECT threshold_pct, id_i AS d FROM m
        |             UNION ALL SELECT threshold_pct, id_j FROM m) GROUP BY 1)
        |SELECT g.threshold_pct,
        |  CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(n_dup_docs, 0) AS BIGINT) AS n_dup_docs
        |FROM g LEFT JOIN np USING (threshold_pct) LEFT JOIN nd USING (threshold_pct)
        |ORDER BY threshold_pct""".stripMargin,
    // q129: q108's quality expression + per-source ranking replay
    "q129_source_cap" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) * 0.5
        |      + (CASE WHEN len(string_split(text,' ')) BETWEEN 8 AND 256 THEN 1.0 ELSE 0.0 END) * 0.25
        |      + (CASE WHEN CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE) / len(string_split(text,' ')) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.25, 6) AS q
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn FROM d),
        |k AS (SELECT *, CASE WHEN rn <= 15 THEN 1 ELSE 0 END AS keep FROM r)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(keep) AS BIGINT) AS n_kept,
        |       CAST(SUM(n_tokens * keep) AS BIGINT) AS tokens_kept
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    // q128: the q124 scoring replay + the naive global-window greedy
    // — band refinement must reproduce it exactly
    "q128_budget_selection" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |b AS (SELECT doc_id,
        |             ('0x' || substr(md5(tok), 1, 6))::BIGINT % 1024 AS bk FROM t),
        |s AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |             SUM((bk * 2654435761) % 2003 - 1001) AS score
        |      FROM b GROUP BY 1),
        |d AS (SELECT s.doc_id, doc.lang, s.n_tokens, s.score
        |      FROM s JOIN documents doc ON doc.doc_id = s.doc_id),
        |bud AS (SELECT (3 * SUM(n_tokens)) // 5 AS budget FROM d),
        |o AS (SELECT d.*, SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d),
        |k AS (SELECT o.*, CASE WHEN cum <= (SELECT budget FROM bud)
        |                       THEN 1 ELSE 0 END AS keep FROM o)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(keep) AS BIGINT) AS n_kept,
        |       CAST(SUM(n_tokens * keep) AS BIGINT) AS tokens_kept
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    // q127: the q31 pair graph restricted to pairs touching the
    // fresh batch (doc_id % 5 = 0) — the incremental contract
    "q127_incremental_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g FROM idx),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_i, b.doc_id AS id_j, COUNT(*) AS inter
        |          FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_i, id_j, CAST(inter AS BIGINT) AS inter,
        |       CAST(sa.sz + sb.sz - inter AS BIGINT) AS sz_union
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_i
        |JOIN sizes sb ON sb.doc_id = id_j
        |WHERE 5 * inter >= 4 * (sa.sz + sb.sz - inter)
        |  AND (id_i % 5 = 0 OR id_j % 5 = 0)
        |ORDER BY id_i, id_j""".stripMargin,
    // q130: the oracle cannot parse GVID — it replays VideoGen's
    // closed-form pixels over the SAMPLED frames (range step = the
    // stride) and must agree with the real codec-seam decode
    // bit-for-bit on every exact-integer column
    "q130_video_decode" ->
      s"""WITH ids AS (SELECT doc_id,
        |    CAST(8 + doc_id % 9 AS BIGINT) AS w,
        |    CAST(8 + doc_id % 7 AS BIGINT) AS h,
        |    CAST(10 + doc_id % 5 AS BIGINT) AS fps,
        |    CAST(6 + doc_id % 5 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 101 = 0),
        |fr AS (SELECT doc_id, w, h, fps, nf, unnest(range(0, nf, 2)) AS f FROM ids),
        |xs AS (SELECT doc_id, w, h, fps, nf, f, unnest(range(0, w)) AS x FROM fr),
        |px AS (SELECT doc_id, w, h, fps, nf, f, x, unnest(range(0, h)) AS y FROM xs),
        |lm AS (SELECT doc_id, w, h, fps, nf, f,
        |    299*((7*x + 13*y + 11*f + doc_id) % 256)
        |    + 587*((3*x + 5*y + 17*f + 2*doc_id) % 256)
        |    + 114*((x + y + 23*f + 3*doc_id) % 256) AS l
        |  FROM px),
        |pf AS (SELECT doc_id, w, h, fps, nf, f,
        |              COUNT(*) AS npx_f, SUM(l) AS ls_f
        |       FROM lm GROUP BY 1, 2, 3, 4, 5, 6),
        |mo AS (SELECT *, lag(ls_f) OVER (PARTITION BY doc_id ORDER BY f) AS prev
        |       FROM pf),
        |a AS (SELECT doc_id, MAX(w) AS w, MAX(h) AS h, MAX(fps) AS fps,
        |             MAX(nf) AS nf, COUNT(*) AS n_sampled,
        |             SUM(npx_f) AS n_px, SUM(ls_f) AS luma_sum,
        |             SUM(CASE WHEN prev IS NULL THEN 0
        |                      ELSE ABS(ls_f - prev) END) AS motion_abs
        |      FROM mo GROUP BY 1)
        |SELECT doc_id, 'gvid' AS format, TRUE AS decode_ok, w AS width,
        |  h AS height, fps, nf AS n_frames,
        |  CAST(n_sampled AS BIGINT) AS n_sampled,
        |  CAST(n_px AS BIGINT) AS n_px,
        |  CAST(luma_sum AS BIGINT) AS luma_sum,
        |  CAST(motion_abs AS BIGINT) AS motion_abs,
        |  ${graft.llm.ExactRound.round6Sql(
             "CAST(luma_sum AS BIGINT)", "1000 * n_px")} AS luma_mean
        |FROM a ORDER BY doc_id""".stripMargin,
    // q153: FULL value replay of the perceptual-hash dedup — the
    // oracle recomputes every aHash bit from the pixel formula
    // (8×8 grid cells, HUGEINT cross-products for the exact
    // cell-mean vs global-mean compare, clamped +2 for the planted
    // variant), packs the same non-negative 32-bit halves, and
    // enumerates all-pairs Hamming ≤ 7 — which the Spark side's
    // pigeonhole block join must match row-for-row (recall 1.0 at
    // ≤ 7 is guaranteed, so band-join vs all-pairs is exact)
    "q153_image_phash_dedup" -> phashAllPairsSql,
    // q161: the streaming run's union-of-batches must equal the
    // ONE-SHOT batch pair graph — q153's full hash replay verbatim
    "q161_streaming_phash_dedup" -> phashAllPairsSql,
    // q164: the q153 hash replay closed into components by a
    // recursive CTE (the q60 oracle shape), seeded with EVERY image
    // so singletons carry their own canonical
    "q164_phash_dup_groups" ->
      s"""WITH RECURSIVE $phashImgsCte,
        |pairs AS (
        |  SELECT a.iid AS id_i, b.iid AS id_j
        |  FROM imgs a JOIN imgs b ON a.iid < b.iid
        |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7),
        |sym AS (SELECT id_i AS a, id_j AS b FROM pairs
        |        UNION SELECT id_j, id_i FROM pairs),
        |reach AS (
        |  SELECT iid AS id, iid AS comp FROM imgs
        |  UNION
        |  SELECT s.a, r.comp FROM sym s JOIN reach r ON s.b = r.id),
        |c AS (SELECT CAST(id AS BIGINT) AS doc_id,
        |             CAST(MIN(comp) AS BIGINT) AS component
        |      FROM reach GROUP BY id)
        |SELECT doc_id, component, doc_id = component AS is_canonical,
        |       COUNT(*) OVER (PARTITION BY component) AS n_copies
        |FROM c ORDER BY doc_id""".stripMargin,
    // q156: FULL value replay of the audio fingerprint — every
    // zero-crossing bit recomputed from the closed-form samples
    // (lag window per (doc, gain), integer cross-products), same
    // halves, all-pairs Hamming ≤ 7
    "q156_audio_fingerprint_dedup" ->
      """WITH ids AS (SELECT doc_id, CAST(800 + (doc_id % 37) * 16 AS BIGINT) AS n
        |             FROM documents WHERE doc_id % 89 = 0),
        |var AS (SELECT doc_id, n,
        |               unnest([CAST(1 AS BIGINT), CAST(2 AS BIGINT)]) AS gain
        |        FROM ids),
        |ix AS (SELECT doc_id, n, gain, unnest(range(0, n)) AS i FROM var),
        |sm AS (SELECT doc_id, n, gain, i,
        |              ((73*i + 131*doc_id) % 4001 - 2000) * gain AS s FROM ix),
        |pr AS (SELECT doc_id, n, gain, i, s,
        |              lag(s) OVER (PARTITION BY doc_id, gain ORDER BY i) AS prev
        |       FROM sm),
        |cr AS (SELECT doc_id, n, gain, (i * 64) // n AS w,
        |              CASE WHEN (s >= 0) <> (prev >= 0) THEN 1 ELSE 0 END AS x
        |       FROM pr WHERE i >= 1),
        |wz AS (SELECT doc_id, gain, n, w, CAST(SUM(x) AS BIGINT) AS zw,
        |              COUNT(*) AS nw
        |       FROM cr GROUP BY 1, 2, 3, 4),
        |tt AS (SELECT doc_id, gain, CAST(SUM(x) AS BIGINT) AS zc
        |       FROM cr GROUP BY 1, 2),
        |bits AS (SELECT doc_id, gain, w, zw * (n - 1) > zc * nw AS b
        |         FROM wz JOIN tt USING (doc_id, gain)),
        |hash AS (SELECT doc_id, gain,
        |    CAST(SUM(CASE WHEN w >= 32 AND b
        |                  THEN (CAST(1 AS BIGINT) << CAST(w - 32 AS INT))
        |                  ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(SUM(CASE WHEN w < 32 AND b
        |                  THEN (CAST(1 AS BIGINT) << CAST(w AS INT))
        |                  ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY 1, 2),
        |clips AS (SELECT CASE WHEN gain = 1 THEN doc_id
        |                      ELSE doc_id + 1000000 END AS cid, hi, lo
        |          FROM hash)
        |SELECT a.cid AS id_i, b.cid AS id_j,
        |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS dist
        |FROM clips a JOIN clips b ON a.cid < b.cid
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
        |ORDER BY id_i, id_j""".stripMargin,
    // q157: FULL value replay of the video fingerprint — every
    // time-averaged cell bit recomputed from the GVID pixel formula
    // over the same stride-2 sampled frames, HUGEINT cross-products,
    // all-pairs Hamming ≤ 7
    "q157_video_fingerprint_dedup" ->
      """WITH ids AS (SELECT doc_id,
        |    CAST(8 + doc_id % 9 AS BIGINT) AS w,
        |    CAST(8 + doc_id % 7 AS BIGINT) AS h,
        |    CAST(6 + doc_id % 5 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 101 = 0),
        |var AS (SELECT doc_id, w, h, nf,
        |               unnest([CAST(0 AS BIGINT), CAST(3 AS BIGINT)]) AS delta
        |        FROM ids),
        |fr AS (SELECT doc_id, w, h, nf, delta, unnest(range(0, nf, 2)) AS f FROM var),
        |xs AS (SELECT doc_id, w, h, delta, f, unnest(range(0, w)) AS x FROM fr),
        |px AS (SELECT doc_id, w, h, delta, f, x, unnest(range(0, h)) AS y FROM xs),
        |lm AS (SELECT doc_id, delta, w, h,
        |    299*least((7*x + 13*y + 11*f + doc_id) % 256 + delta, 255)
        |    + 587*least((3*x + 5*y + 17*f + 2*doc_id) % 256 + delta, 255)
        |    + 114*least((x + y + 23*f + 3*doc_id) % 256 + delta, 255) AS l,
        |    ((y * 8) // h) * 8 + ((x * 8) // w) AS c
        |  FROM px),
        |cells AS (SELECT doc_id, delta, c, CAST(SUM(l) AS BIGINT) AS gsum,
        |                 COUNT(*) AS gcnt
        |          FROM lm GROUP BY 1, 2, 3),
        |tot AS (SELECT doc_id, delta, CAST(SUM(l) AS BIGINT) AS luma_sum,
        |               COUNT(*) AS n_px
        |        FROM lm GROUP BY 1, 2),
        |bits AS (SELECT doc_id, delta, c,
        |    CAST(gsum AS HUGEINT) * n_px > CAST(luma_sum AS HUGEINT) * gcnt AS b
        |  FROM cells JOIN tot USING (doc_id, delta)),
        |hash AS (SELECT doc_id, delta,
        |    CAST(SUM(CASE WHEN c >= 32 AND b
        |                  THEN (CAST(1 AS BIGINT) << CAST(c - 32 AS INT))
        |                  ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(SUM(CASE WHEN c < 32 AND b
        |                  THEN (CAST(1 AS BIGINT) << CAST(c AS INT))
        |                  ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY 1, 2),
        |clips AS (SELECT CASE WHEN delta = 0 THEN doc_id
        |                      ELSE doc_id + 1000000 END AS cid, hi, lo
        |          FROM hash)
        |SELECT a.cid AS id_i, b.cid AS id_j,
        |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS dist
        |FROM clips a JOIN clips b ON a.cid < b.cid
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
        |ORDER BY id_i, id_j""".stripMargin,
    // q158: the q153 all-pairs hash replay RESTRICTED to
    // fresh-touching pairs (fresh ids are the +1000000 variants, so
    // with id_i < id_j every fresh-touching pair has id_j ≥ 10⁶) —
    // the exact incremental-dedup contract
    "q158_incremental_phash_dedup" ->
      """WITH ids AS (SELECT doc_id, CAST(16 + doc_id % 17 AS BIGINT) AS w,
        |                    CAST(16 + doc_id % 13 AS BIGINT) AS h
        |             FROM documents WHERE doc_id % 97 = 0),
        |var AS (SELECT doc_id, w, h,
        |               unnest([CAST(0 AS BIGINT), CAST(2 AS BIGINT)]) AS delta
        |        FROM ids),
        |xs AS (SELECT doc_id, delta, w, h, unnest(range(0, w)) AS x FROM var),
        |px AS (SELECT doc_id, delta, w, h, x, unnest(range(0, h)) AS y FROM xs),
        |lm AS (SELECT doc_id, delta,
        |    299*least((7*x + 13*y + doc_id) % 256 + delta, 255)
        |    + 587*least((3*x + 5*y + 2*doc_id) % 256 + delta, 255)
        |    + 114*least((x + y + 3*doc_id) % 256 + delta, 255) AS l,
        |    ((y * 8) // h) * 8 + ((x * 8) // w) AS c
        |  FROM px),
        |cells AS (SELECT doc_id, delta, c, CAST(SUM(l) AS BIGINT) AS gsum,
        |                 COUNT(*) AS gcnt
        |          FROM lm GROUP BY 1, 2, 3),
        |tot AS (SELECT doc_id, delta, CAST(SUM(l) AS BIGINT) AS luma_sum,
        |               COUNT(*) AS n_px
        |        FROM lm GROUP BY 1, 2),
        |bits AS (SELECT doc_id, delta, c,
        |    CAST(gsum AS HUGEINT) * n_px > CAST(luma_sum AS HUGEINT) * gcnt AS b
        |  FROM cells JOIN tot USING (doc_id, delta)),
        |hash AS (SELECT doc_id, delta,
        |    CAST(SUM(CASE WHEN c >= 32 AND b
        |                  THEN (CAST(1 AS BIGINT) << CAST(c - 32 AS INT))
        |                  ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(SUM(CASE WHEN c < 32 AND b
        |                  THEN (CAST(1 AS BIGINT) << CAST(c AS INT))
        |                  ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY 1, 2),
        |imgs AS (SELECT CASE WHEN delta = 0 THEN doc_id
        |                     ELSE doc_id + 1000000 END AS iid, hi, lo
        |         FROM hash)
        |SELECT a.iid AS id_i, b.iid AS id_j,
        |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS dist
        |FROM imgs a JOIN imgs b ON a.iid < b.iid
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
        |  AND b.iid >= 1000000
        |ORDER BY id_i, id_j""".stripMargin,
    // q131: full replay of the repetition battery — n-gram
    // occurrence streams per n, covered-char aggregates, the same
    // micro-integer thresholds
    "q131_repetition_rules" ->
      """WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |                  string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
        |        FROM d WHERE len(t) >= 2),
        |occ AS (
        |  SELECT doc_id, n, array_to_string(t[i:i+n-1], ' ') AS g
        |  FROM pos, (SELECT unnest([2,3,4,5,6,7]) AS n)
        |  WHERE i + n - 1 <= len(t)),
        |c AS (SELECT doc_id, n, g, COUNT(*) AS cnt,
        |             COUNT(*) * length(g) AS chars
        |      FROM occ GROUP BY 1, 2, 3),
        |p AS (SELECT doc_id, n, MAX(chars) AS top_chars,
        |             SUM(CASE WHEN cnt >= 2 THEN chars ELSE 0 END) AS dup_chars
        |      FROM c GROUP BY 1, 2),
        |w AS (SELECT d.doc_id, d.n_chars,
        |  COALESCE(MAX(CASE WHEN n = 2 THEN top_chars END), 0) AS t2,
        |  COALESCE(MAX(CASE WHEN n = 3 THEN top_chars END), 0) AS t3,
        |  COALESCE(MAX(CASE WHEN n = 4 THEN top_chars END), 0) AS t4,
        |  COALESCE(MAX(CASE WHEN n = 5 THEN dup_chars END), 0) AS d5,
        |  COALESCE(MAX(CASE WHEN n = 6 THEN dup_chars END), 0) AS d6,
        |  COALESCE(MAX(CASE WHEN n = 7 THEN dup_chars END), 0) AS d7
        |  FROM d LEFT JOIN p ON p.doc_id = d.doc_id GROUP BY 1, 2),
        |u AS (SELECT doc_id, n_chars,
        |  (2 * t2 * 1000000 + greatest(n_chars, 1)) // (2 * greatest(n_chars, 1)) AS t2u,
        |  (2 * t3 * 1000000 + greatest(n_chars, 1)) // (2 * greatest(n_chars, 1)) AS t3u,
        |  (2 * t4 * 1000000 + greatest(n_chars, 1)) // (2 * greatest(n_chars, 1)) AS t4u,
        |  (2 * d5 * 1000000 + greatest(n_chars, 1)) // (2 * greatest(n_chars, 1)) AS d5u,
        |  (2 * d6 * 1000000 + greatest(n_chars, 1)) // (2 * greatest(n_chars, 1)) AS d6u,
        |  (2 * d7 * 1000000 + greatest(n_chars, 1)) // (2 * greatest(n_chars, 1)) AS d7u
        |  FROM w),
        |r AS (SELECT doc_id, n_chars,
        |  CAST(t2u AS DOUBLE)/1e6 AS top2, CAST(t3u AS DOUBLE)/1e6 AS top3,
        |  CAST(t4u AS DOUBLE)/1e6 AS top4, CAST(d5u AS DOUBLE)/1e6 AS dup5,
        |  CAST(d6u AS DOUBLE)/1e6 AS dup6, CAST(d7u AS DOUBLE)/1e6 AS dup7,
        |  (t2u <= 200000 AND t3u <= 180000 AND t4u <= 160000 AND
        |   d5u <= 150000 AND d6u <= 140000 AND d7u <= 130000) AS rep_ok
        |  FROM u)
        |SELECT rep_ok, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN top2 > 0.20 THEN 1 ELSE 0 END) AS BIGINT) AS n_top2_fail,
        |  CAST(SUM(CASE WHEN top3 > 0.18 THEN 1 ELSE 0 END) AS BIGINT) AS n_top3_fail,
        |  CAST(SUM(CASE WHEN top4 > 0.16 THEN 1 ELSE 0 END) AS BIGINT) AS n_top4_fail,
        |  CAST(SUM(CASE WHEN dup5 > 0.15 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup5_fail,
        |  CAST(SUM(CASE WHEN dup6 > 0.14 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup6_fail,
        |  CAST(SUM(CASE WHEN dup7 > 0.13 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup7_fail,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM r GROUP BY rep_ok ORDER BY rep_ok""".stripMargin,
    // q132: the trigram first-seen attribution replayed verbatim
    "q132_novelty" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        |        FROM d WHERE len(t) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |       FROM idx),
        |f AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
        |p AS (SELECT sh.doc_id, COUNT(*) AS n_shingles,
        |             SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_novel
        |      FROM sh JOIN f USING (g) GROUP BY 1),
        |n AS (SELECT doc_id, n_shingles, n_novel,
        |             CAST((2 * n_novel * 1000000 + n_shingles) // (2 * n_shingles)
        |                  AS DOUBLE) / 1e6 AS novelty_frac
        |      FROM p)
        |SELECT CAST(floor(novelty_frac * 10) AS BIGINT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_shingles) AS BIGINT) AS shingles,
        |  CAST(SUM(n_novel) AS BIGINT) AS novel
        |FROM n GROUP BY 1 ORDER BY band""".stripMargin,
    // q133: full replay of the quantized-TV drift summary — the
    // same per-million half-up integers, the same union vocab
    "q133_corpus_drift" -> driftSummarySql,
    // q137: the STREAMING runtime computes q133's number through the
    // checkpointed state store — same oracle verbatim: the final
    // accumulated micro-batch must equal the batch summary
    "q137_streaming_drift" -> driftSummarySql,
    // q134: the same deltas, top-20 by (delta desc, tok asc)
    "q134_drift_movers" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |a AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS a FROM t WHERE doc_id % 2 = 0 GROUP BY 1),
        |b AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS b FROM t WHERE doc_id % 2 = 1 GROUP BY 1),
        |j AS (SELECT tok, COALESCE(a, 0) AS a, COALESCE(b, 0) AS b
        |      FROM a FULL JOIN b USING (tok)),
        |tot AS (SELECT SUM(a) AS n_ref, SUM(b) AS n_cur FROM j),
        |d AS (SELECT tok, a, b,
        |             CAST((2 * a * 1000000 + n_ref) // (2 * n_ref) AS BIGINT) AS p_micro,
        |             CAST((2 * b * 1000000 + n_cur) // (2 * n_cur) AS BIGINT) AS q_micro
        |      FROM j, tot)
        |SELECT tok, a, b, p_micro, q_micro,
        |       CAST(ABS(p_micro - q_micro) AS BIGINT) AS delta_micro
        |FROM d ORDER BY delta_micro DESC, tok ASC LIMIT 20""".stripMargin,
    // q135: the top-1000 vocab via a deterministic ranked cutoff,
    // then the same per-doc occurrence-coverage integers
    "q135_vocab_coverage" ->
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1),
        |v AS (SELECT tok FROM (SELECT tok, row_number() OVER
        |        (ORDER BY cnt DESC, tok ASC) AS rn FROM c) WHERE rn <= 1000),
        |p AS (SELECT t.doc_id, t.lang, COUNT(*) AS n_tokens,
        |             SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS n_in
        |      FROM t LEFT JOIN v ON v.tok = t.tok GROUP BY 1, 2),
        |u AS (SELECT *, (2 * n_in * 1000000 + n_tokens) // (2 * n_tokens) AS cov_u
        |      FROM p)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_in) AS BIGINT) AS in_vocab_tokens,
        |  CAST(SUM(CASE WHEN cov_u < 900000 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST((2 * SUM(n_in) * 1000000 + SUM(n_tokens)) // (2 * SUM(n_tokens))
        |       AS DOUBLE) / 1e6 AS coverage
        |FROM u GROUP BY lang ORDER BY lang""".stripMargin,
    // q126: replay AudioGen's closed-form samples — the oracle
    // derives the waveform itself and aggregates the same exact
    // integers the JDK decode accumulates
    "q126_audio_decode" ->
      s"""WITH ids AS (SELECT doc_id, CAST(800 + (doc_id % 37) * 16 AS BIGINT) AS n
        |             FROM documents WHERE doc_id % 89 = 0),
        |s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM ids),
        |v AS (SELECT doc_id, n, i, (73 * i + 131 * doc_id) % 4001 - 2000 AS smp FROM s),
        |z AS (SELECT doc_id, n, i, smp,
        |             lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM v),
        |a AS (SELECT doc_id, MAX(n) AS n_samples,
        |             SUM(smp * smp) AS sq_sum,
        |             SUM(CASE WHEN prev IS NOT NULL AND ((smp >= 0) != (prev >= 0))
        |                      THEN 1 ELSE 0 END) AS zc,
        |             MAX(ABS(smp)) AS peak
        |      FROM z GROUP BY 1)
        |SELECT doc_id, 'riff' AS format, TRUE AS decode_ok,
        |  CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
        |  CAST(n_samples AS BIGINT) AS n_samples, CAST(sq_sum AS BIGINT) AS sq_sum,
        |  CAST(zc AS BIGINT) AS zero_crossings, CAST(peak AS BIGINT) AS peak,
        |  ${graft.llm.ExactRound.round6Sql("CAST(sq_sum AS BIGINT)", "n_samples")} AS mean_square
        |FROM a ORDER BY doc_id""".stripMargin,
    // q124: bucket = first 6 md5 hex chars as an int mod 1024;
    // weight = (b*2654435761) % 2003 - 1001 — both closed-form, so
    // the oracle recomputes the exact integer score per token
    "q124_quality_classifier" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |b AS (SELECT doc_id,
        |             ('0x' || substr(md5(tok), 1, 6))::BIGINT % 1024 AS bk FROM t),
        |s AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |             SUM((bk * 2654435761) % 2003 - 1001) AS score_sum
        |      FROM b GROUP BY 1)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(score_sum AS BIGINT) AS score_sum,
        |       CAST(CASE WHEN score_sum >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    // q125: q115's recursive-CTE components + the same md5-of-cluster
    // split arithmetic; straddle count re-derived the same way
    "q125_leakage_safe_split" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g FROM idx),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_i, b.doc_id AS id_j, COUNT(*) AS inter
        |          FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |edges AS (SELECT id_i, id_j FROM pairs
        |  JOIN sizes sa ON sa.doc_id = id_i JOIN sizes sb ON sb.doc_id = id_j
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        |sym AS (SELECT id_i AS a, id_j AS b FROM edges UNION SELECT id_j, id_i FROM edges),
        |reach AS (
        |  SELECT a AS id, a AS comp FROM sym
        |  UNION
        |  SELECT s.a, r.comp FROM sym s JOIN reach r ON s.b = r.id),
        |comp AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),
        |asg AS (SELECT d.doc_id,
        |               COALESCE(c.component, d.doc_id) AS cluster_id,
        |               CASE WHEN ('0x' || substr(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 6))::BIGINT % 100 < 90
        |                    THEN 'train' ELSE 'val' END AS split
        |        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
        |str AS (SELECT CAST(SUM(CASE WHEN nspl > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
        |        FROM (SELECT cluster_id, COUNT(DISTINCT split) AS nspl FROM asg GROUP BY 1))
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
        |       (SELECT n_straddling FROM str) AS n_straddling
        |FROM asg GROUP BY split ORDER BY split""".stripMargin
  )
}
