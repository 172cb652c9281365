package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The distinct-signature banded near-dup join ([[bandedPairs]]) —
  * the one band engine behind every signature-keyed dedup operator:
  * the perceptual-fingerprint family over a 64-bit signature stored
  * as two non-negative 32-bit halves ([[bandedNearDups]]: images
  * (aHash, q153), audio (zero-crossing fingerprint, q156) and video
  * (time-average aHash, q157)), SimHash
  * ([[Dedup.simhashNearDups]]), MinHash LSH candidates
  * ([[Dedup.minhashCandidates]]) and embedding RP-LSH candidates
  * ([[Dedup.embeddingNearDups]]). Callers supply only their band
  * rows and, for the Hamming operators, the distance bound.
  */
object SigDedup {

  /** Hamming distance between two (hi, lo) hash-half pairs. */
  def hamming(hiA: Column, loA: Column, hiB: Column, loB: Column): Column =
    bit_count(hiA.bitwiseXOR(hiB)) + bit_count(loA.bitwiseXOR(loB))

  /** Normalized (id, hi, lo) signature rows — undecodable payloads
    * (null hashes) skipped, behind a cache barrier: the hash columns
    * come from the (expensive) decode mapPartitions, and without the
    * barrier the decode would re-run for every consumer (the group
    * aggregate, both expansion joins, the band join).
    */
  private def sigOf(df: DataFrame, idCol: String,
                    hiCol: String, loCol: String): DataFrame =
    BarrierCache.track(
      df.filter(col(hiCol).isNotNull && col(loCol).isNotNull)
        .select(col(idCol), col(hiCol).as("hi"), col(loCol).as("lo")))

  /** The 8 pigeonhole bands of an (hi, lo) signature, 8 bits each —
    * 4 from each half.
    */
  private val blockCols: Column = array((0 until 8).map { b =>
    val half = if (b < 4) col("lo") else col("hi")
    shiftrightunsigned(half, (b % 4) * 8).bitwiseAND(lit(0xFFL))
  }: _*)

  /** One row per (signature row, block). */
  private def blocksOf(sig: DataFrame, idCol: String): DataFrame =
    sig.select(col(idCol), col("hi"), col("lo"), posexplode(blockCols))
      .toDF(idCol, "hi", "lo", "block", "bval")

  /** One row per distinct signature: (sigCols…, rep = min id, m =
    * member count).
    */
  private def groupsOf(members: DataFrame, idCol: String, sigCols: Seq[String]): DataFrame =
    members.groupBy(sigCols.map(col): _*)
      .agg(min(col(idCol)).as("rep"), count(lit(1)).as("m"))

  /** One row per distinct signature: (hi, lo, rep = min id, m =
    * member count). The frame [[bandedNearDups]] bands over — and
    * the hot-group report a capped run surfaces (`m > maxSigFreq`
    * rows are the groups a cap excludes; "no silent caps").
    */
  def sigGroupSizes(signed: DataFrame, idCol: String,
                    hiCol: String, loCol: String): DataFrame =
    groupsOf(sigOf(signed, idCol, hiCol, loCol), idCol, Seq("hi", "lo"))

  /** Distinct-signature banded pairs over `members` (idCol plus the
    * `sigCols` signature columns). Output: (id_i, id_j) — plus
    * `dist` when `maxDist` is set — with id_i < id_j, each unordered
    * pair once.
    *
    * Scale shape — two layers, because real corpora are wildly
    * signature-skewed (solid-color thumbnails, silence-padded audio,
    * boilerplate documents and duplicated embeddings all collapse to
    * ONE signature each):
    *
    *  1. ''Banding over DISTINCT signatures.'' `band` adds an array
    *     column `bands` to one representative row (rep = min id) per
    *     distinct signature; representatives sharing a (band index,
    *     value) bucket pair through one equi-join, so band occupancy
    *     is bounded by the DISTINCT-signature count: a million rows
    *     sharing one signature contribute exactly ONE row per band,
    *     not a million² candidate explosion. With `maxDist` set the
    *     signature columns are 64-bit words, a representative pair
    *     keeps its Hamming distance (Σ over the words) and pairs
    *     beyond `maxDist` drop; distinct signatures are ≥ 1 apart.
    *     Qualifying signature pairs expand to member pairs through
    *     the representative — each unordered member pair lands once
    *     (canonical representative pair, one group per member).
    *  2. ''Identical-signature groups expand separately as dist-0
    *     pairs'' through one equi-join keyed on the representative —
    *     linear in the emitted pair count (the output-inherent
    *     minimum), paid once instead of once per band.
    *
    * `maxSigFreq` > 0 caps layer 2 the way [[Dedup.jaccardPairs]]'s
    * `maxDocFreq` caps hot shingles: a signature shared by more than
    * `maxSigFreq` rows is EXCLUDED from pairing entirely (its C(m,2)
    * output rows are pure degenerate mass — "every blank thumbnail
    * duplicates every other blank thumbnail" — while still quadratic
    * in m). Never silent: callers read the excluded groups from
    * [[sigGroupSizes]] (or a `groupBy` of the signature) and report
    * them.
    */
  private[llm] def bandedPairs(members: DataFrame, idCol: String, sigCols: Seq[String],
                               band: DataFrame => DataFrame,
                               maxDist: Option[Int] = None,
                               maxSigFreq: Int = 0): DataFrame = {
    val groupsAll = BarrierCache.track(groupsOf(members, idCol, sigCols))
    val groups =
      if (maxSigFreq <= 0) groupsAll
      else groupsAll.filter(col("m") <= maxSigFreq)
    // member → representative; the inner join drops capped groups
    val repOf = BarrierCache.track(
      members.join(groups, sigCols).select(col(idCol), col("rep")))
    val carried = if (maxDist.isDefined) sigCols else Nil
    val bands = BarrierCache.track(
      band(groups.select(("rep" +: sigCols).map(col): _*))
        .select((col("rep") +: carried.map(col)) :+ posexplode(col("bands")): _*)
        .toDF(("rep" +: carried) ++ Seq("band", "bucket"): _*))
    def side(s: String): DataFrame =
      bands.toDF((s"rep_$s" +: carried.map(c => s"${c}_$s")) ++ Seq("band", "bucket"): _*)
    val shared = side("i").join(side("j"), Seq("band", "bucket"))
      .filter(col("rep_i") < col("rep_j"))
    val repPairs = maxDist match {
      case None => shared.select("rep_i", "rep_j").distinct()
      case Some(d) =>
        val hamming = sigCols.map(c => Dedup.hamming(col(s"${c}_i"), col(s"${c}_j")))
        shared.select(col("rep_i"), col("rep_j"), hamming.reduce(_ + _).as("dist"))
          .distinct().filter(col("dist") <= d)
    }
    val dist = if (maxDist.isDefined) Seq("dist") else Nil
    val cross = repPairs
      .join(repOf.toDF("id_a", "rep_i"), Seq("rep_i"))
      .join(repOf.toDF("id_b", "rep_j"), Seq("rep_j"))
      .select(Seq(least(col("id_a"), col("id_b")).as("id_i"),
        greatest(col("id_a"), col("id_b")).as("id_j")) ++ dist.map(col): _*)
    val zero = repOf.toDF("id_i", "rep")
      .join(repOf.toDF("id_j", "rep"), Seq("rep"))
      .filter(col("id_i") < col("id_j"))
      .select(Seq(col("id_i"), col("id_j")) ++ dist.map(lit(0).as(_)): _*)
    cross.unionByName(zero)
  }

  /** Near-dup pairs with Hamming distance ≤ `maxDist` over the
    * 64-bit signature, exact by pigeonhole (requires maxDist ≤ 7:
    * 8 blocks of 8 bits ⇒ any qualifying pair shares a block).
    * Rows with null hashes (undecodable payloads) are skipped.
    * Output: (id_i, id_j, dist), id_i < id_j, distinct. The join is
    * [[bandedPairs]].
    *
    * @param maxSigFreq when > 0, signatures shared by more than this
    *   many rows are excluded from pairing entirely (both their
    *   dist-0 expansion and their cross-signature candidates) —
    *   bounding worst-case output and join cost under
    *   identical-signature pile-ups. 0 (default) = exact full pair
    *   set. Excluded groups are visible via [[sigGroupSizes]].
    */
  def bandedNearDups(signed: DataFrame, idCol: String,
                     hiCol: String, loCol: String,
                     maxDist: Int = 7, maxSigFreq: Int = 0): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7,
      s"maxDist=$maxDist: 8×8-bit blocks guarantee recall only up to 7")
    bandedPairs(sigOf(signed, idCol, hiCol, loCol), idCol, Seq("hi", "lo"),
      _.withColumn("bands", blockCols), Some(maxDist), maxSigFreq)
  }

  /** INCREMENTAL near-dup pairing for corpus appends — the daily
    * production shape (the [[graft.operators.SetSimJoin]] probe-join
    * pattern, fingerprint tier): signatures are 16 bytes/row, so a
    * pipeline PERSISTS the signature table once and, per batch,
    * pairs only the fresh clips — fresh×existing and fresh×fresh,
    * never existing×existing (that work was done when those rows
    * were themselves fresh). Candidate cost ∝ batch size × band
    * occupancy — and band occupancy is bounded by DISTINCT-signature
    * counts here exactly as in [[bandedPairs]], with
    * identical-signature groups expanded separately through
    * fresh-side-keyed equi-joins (store-only groups are never even
    * scanned into the expansion, preserving the no-store×store
    * contract at the plan level, not just in the output).
    *
    * Exactness: a fresh-touching pair within `maxDist` shares ≥ 1
    * block (same pigeonhole as [[bandedNearDups]]), and every
    * candidate here has ≥ 1 fresh side, so the result is provably
    * the full pair graph restricted to fresh-touching pairs.
    * Output: (id_i, id_j, dist), id_i < id_j, distinct; ids must be
    * unique across the union of both frames.
    */
  def incrementalNearDups(existing: DataFrame, fresh: DataFrame,
                          idCol: String, hiCol: String, loCol: String,
                          maxDist: Int = 7, maxSigFreq: Int = 0): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7,
      s"maxDist=$maxDist: 8×8-bit blocks guarantee recall only up to 7")
    val members = BarrierCache.track(
      sigOf(existing, idCol, hiCol, loCol).withColumn("is_fresh", lit(false))
        .unionByName(
          sigOf(fresh, idCol, hiCol, loCol).withColumn("is_fresh", lit(true))))
    val groupsAll = BarrierCache.track(
      members.groupBy("hi", "lo")
        .agg(min(col(idCol)).as("rep"), count(lit(1)).as("m"),
          max(col("is_fresh")).as("has_fresh")))
    val groups =
      if (maxSigFreq <= 0) groupsAll
      else groupsAll.filter(col("m") <= maxSigFreq)
    val live =
      if (maxSigFreq <= 0) members
      else members.join(groups.select("hi", "lo"), Seq("hi", "lo"), "left_semi")
    val fm = live.filter(col("is_fresh"))
    // dist-0 pairs with ≥ 1 fresh side, each exactly once:
    // fresh×existing (disjoint sides — no dedup needed) plus
    // fresh×fresh ordered. Store-only groups never enter the join.
    val zeroFE = fm.select(col(idCol).as("id_a"), col("hi"), col("lo"))
      .join(live.filter(!col("is_fresh"))
          .select(col(idCol).as("id_b"), col("hi"), col("lo")),
        Seq("hi", "lo"))
      .select(least(col("id_a"), col("id_b")).as("id_i"),
        greatest(col("id_a"), col("id_b")).as("id_j"), lit(0).as("dist"))
    val zeroFF = fm.select(col(idCol).as("id_i"), col("hi"), col("lo"))
      .join(fm.select(col(idCol).as("id_j"), col("hi"), col("lo")),
        Seq("hi", "lo"))
      .filter(col("id_i") < col("id_j"))
      .select(col("id_i"), col("id_j"), lit(0).as("dist"))
    // cross-signature candidates: distinct signatures of the WHOLE
    // corpus banded against distinct signatures CARRYING a fresh
    // member — probe cost ∝ fresh distinct-signature count
    val blocksAll = blocksOf(groups.select(col("rep"), col("hi"), col("lo")), "rep")
      .toDF("rep_a", "hi_a", "lo_a", "block", "bval")
    val blocksFresh = blocksOf(groups.filter(col("has_fresh"))
        .select(col("rep"), col("hi"), col("lo")), "rep")
      .toDF("rep_f", "hi_f", "lo_f", "block", "bval")
    // canonicalize the unordered signature pair by representative id
    // (a fresh×fresh signature pair is found in both orders)
    val sigPairs = blocksAll.join(blocksFresh, Seq("block", "bval"))
      .filter(col("rep_a") =!= col("rep_f"))
      .select(
        when(col("rep_a") < col("rep_f"), col("hi_a")).otherwise(col("hi_f")).as("hi_i"),
        when(col("rep_a") < col("rep_f"), col("lo_a")).otherwise(col("lo_f")).as("lo_i"),
        when(col("rep_a") < col("rep_f"), col("hi_f")).otherwise(col("hi_a")).as("hi_j"),
        when(col("rep_a") < col("rep_f"), col("lo_f")).otherwise(col("lo_a")).as("lo_j"),
        hamming(col("hi_a"), col("lo_a"), col("hi_f"), col("lo_f")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
    // member expansion, keeping only fresh-touching pairs
    val cross = sigPairs
      .join(live.select(col(idCol).as("id_a"), col("is_fresh").as("f_a"),
        col("hi").as("hi_i"), col("lo").as("lo_i")), Seq("hi_i", "lo_i"))
      .join(live.select(col(idCol).as("id_b"), col("is_fresh").as("f_b"),
        col("hi").as("hi_j"), col("lo").as("lo_j")), Seq("hi_j", "lo_j"))
      .filter(col("f_a") || col("f_b"))
      .select(least(col("id_a"), col("id_b")).as("id_i"),
        greatest(col("id_a"), col("id_b")).as("id_j"), col("dist"))
    cross.unionByName(zeroFE).unionByName(zeroFF)
  }
}

/** Near-duplicate detection for IMAGES via the exact average-hash
  * ([[graft.sources.Multimodal.decodeImages]]'s `ahash_hi`/`ahash_lo`
  * halves): the perceptual analogue of the text-side SimHash dedup
  * ([[Dedup.simhashNearDups]]) — re-encoded, brightness-shifted, or
  * slightly-edited copies of the same picture land within a few
  * Hamming bits of each other, while byte-level content hashes (q30's
  * exact dedup) see completely different files. The missing modality
  * in the dedup tier: exact/MinHash/SimHash/embedding cover text,
  * this covers the image corpus through the REAL decode path.
  *
  * Reference behavior: the pipeline fetches each staged file's raw
  * bytes and treats it as an opaque payload, with FILE IDENTITY the
  * only dedup key (main.py:438-439 `get_media` → BytesIO,
  * main.py:465-469 archive-by-file-id); this is the content-aware
  * upgrade a training-data pipeline needs — byte- or id-level dedup
  * misses the same photo saved twice at different quality.
  * At 100 TB of images the decode is embarrassingly parallel and the
  * hash is 16 bytes/row; pairing is [[SigDedup.bandedNearDups]].
  */
object ImageDedup {

  /** Near-dup image pairs over the decode path's aHash halves —
    * see [[SigDedup.bandedNearDups]] for the contract.
    */
  def phashNearDups(decoded: DataFrame, idCol: String,
                    hiCol: String = "ahash_hi", loCol: String = "ahash_lo",
                    maxDist: Int = 7, maxSigFreq: Int = 0): DataFrame =
    SigDedup.bandedNearDups(decoded, idCol, hiCol, loCol, maxDist, maxSigFreq)
}
