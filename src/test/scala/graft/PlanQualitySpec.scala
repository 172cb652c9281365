package graft

/** Plan-quality regressions: the physical shapes SCALE.md promises.
  * These assert on the optimized physical plan, not on timings, so
  * they hold at any scale factor.
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q01: dimension mapping is a broadcast join; scan is pruned") {
    val p = plan("q01_revenue_by_category")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // projection pruning reaches the lineitem scan: no unused columns
    assert(p.contains("l_extendedprice"))
    assert(!p.contains("l_shipdate"), "scan reads columns the query never uses")
  }

  test("q18: aggregation is partial+final (map-side combine)") {
    val p = plan("q18_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q21: top-k pushes a WindowGroupLimit below the shuffle") {
    val p = plan("q21_topk_per_brand")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q50: customer join shuffles; only fixed-size dims are broadcast") {
    // With auto-broadcast off, only EXPLICIT hints survive — proving
    // the hints sit on nation/region (fixed 25/5 rows) and NOT on
    // customer, which grows with scale factor and must shuffle.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = plan("q50_region_year_revenue")
      assert("BroadcastHashJoin".r.findAllIn(p).size === 2,
        s"expected exactly nation+region broadcast\n${p.take(3000)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"customer/orders joins must be shuffle joins\n${p.take(3000)}")
    } finally spark.conf.set(key, prev)
  }

  test("transform evaluates the clean_item chain once, over the distinct items") {
    import graft.etl.{Pos, Transform}
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan}
    val df = Transform.transform(Pos.rawReport(spark, sf), Transform.dimDF(spark))
    val opt = df.queryExecution.optimizedPlan
    def mentions(p: LogicalPlan, pats: Seq[String]) = {
      val e = p.expressions.mkString
      pats.exists(e.contains)
    }
    // R7 (the head of the R7-R10 clean-item chain) and the R1-R6
    // extract patterns, as they print in a plan
    val chain = Seq("croissant|croffle")
    val extracts = Seq("solo|duo|medio|familia", "hot|cold", "fries|lemonade",
      "sugar 20%", "mild \\(1/4\\)", "x\\s*(\\d+)")
    def itemAgg(p: LogicalPlan) = p.collect {
      case a: Aggregate if a.groupingExpressions.exists {
        case r: Attribute => r.name == "item"; case _ => false } => a
    }.nonEmpty
    // The chain has three consumers (R12 filter, dim-join key, initcap
    // display column): exactly one node may evaluate it, and it must
    // be the distinct-item aggregate or sit above it — a pushed-down
    // or re-inlined copy pays the regex cost once per line again.
    val nodes = opt.collect { case p if mentions(p, chain) => p }
    assert(nodes.size === 1,
      s"clean_item chain in ${nodes.size} nodes:\n${nodes.map(_.simpleString(2000)).mkString("\n")}")
    assert(itemAgg(nodes.head), s"chain not above the item aggregate\n${opt.toString.take(3000)}")
    // the join back: one side is the per-item relation, the other the
    // exploded lines, which must evaluate no extract at all
    val lineSides = opt.collect {
      case j: Join if itemAgg(j.right) && !itemAgg(j.left) &&
        j.left.collect { case g: Generate => g }.nonEmpty => j.left
      case j: Join if itemAgg(j.left) && !itemAgg(j.right) &&
        j.right.collect { case g: Generate => g }.nonEmpty => j.right
    }
    assert(lineSides.size === 1, opt.toString.take(3000))
    val leaked = lineSides.head.collect { case p if mentions(p, chain ++ extracts) => p }
    assert(leaked.isEmpty, s"per-line side evaluates extracts\n${opt.toString.take(3000)}")
  }

  test("star fact computes its surrogate keys inline: no join") {
    import graft.etl.{Load, Pos, Transform}
    // over a stored fact table, as the star refresh reads it
    val path = tmpDir("star-plan") + "/fact"
    Transform.run(Pos.rawReport(spark, sf), Transform.dimDF(spark))
      .clean.write.parquet(path)
    val opt = Load.normalizeStar(spark.read.parquet(path)).fact.queryExecution.optimizedPlan
    assert(opt.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
      opt.toString.take(3000))
  }

  test("q53: sessions build inside one user_id hash partitioning") {
    val p = plan("q53_session_window")
    assert(p.contains("hashpartitioning(user_id"), p.take(2000))
    // session assembly must not add a second data shuffle beyond the
    // user partitioning (+ the output sort's range exchange)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(2000))
  }

  test("q54: sliding windows expand map-side with partial aggregation") {
    val p = plan("q54_sliding_window")
    assert(p.contains("Expand"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q61/q62: curation scrubs stay scan-projection + one aggregation") {
    Seq("q61_pii_scrub", "q62_repetition_stats").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q plans a join\n${p.take(2000)}")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q lost its partial (map-side) aggregation\n${p.take(2000)}")
    }
  }

  test("q67: SCD2 history costs exactly one data shuffle") {
    val p = plan("q67_scd2_history")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(2000))
  }

  test("q68: as-of join plans as union+window — no join node, one shuffle") {
    val p = plan("q68_asof_join")
    assert(!p.contains("Join"), p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(2000))
  }

  test("q69: range join never degrades to a nested loop") {
    val p = plan("q69_range_join")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("q75: the calendar spine joins as a broadcast, never a shuffle") {
    val p = plan("q75_resample_gapfill")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q79: the customer aggregate materializes once for all branches") {
    graft.llm.BarrierCache.sweep(spark)
    val p = plan("q79_rfm_segments")
    assert(p.contains("InMemoryTableScan"),
      s"per-customer frame must come from the barrier cache\n${p.take(2000)}")
    graft.llm.BarrierCache.sweep(spark)
  }

  test("q91: pair self-join shuffles on the order key; only totals broadcast") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = plan("q91_basket_lift")
      // the two ≤25-row brand totals carry explicit hints; the
      // distinct (order, brand) self-join must stay a shuffle join —
      // it grows with the fact table
      assert("BroadcastHashJoin".r.findAllIn(p).size === 2,
        s"expected exactly the two brand-total broadcasts\n${p.take(3000)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"order-key self-join must shuffle\n${p.take(3000)}")
    } finally spark.conf.set(key, prev)
  }

  test("q92: median and MAD re-attach as broadcasts, never shuffles") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = plan("q92_robust_outliers")
      // the med-attach appears twice (the |x−med| branch feeding the
      // MAD aggregate, and the final pass) plus the mad-attach: three
      // broadcast joins, zero shuffle joins
      assert("BroadcastHashJoin".r.findAllIn(p).size === 3,
        s"expected the 3-row med(×2)+mad broadcasts\n${p.take(3000)}")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"stat re-attach must never shuffle\n${p.take(3000)}")
    } finally spark.conf.set(key, prev)
  }

  test("q95: per-doc top-3 pushes a WindowGroupLimit below the shuffle") {
    val p = plan("q95_tfidf_keywords")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q96: the edge derivation materializes once behind the barrier cache") {
    val p = plan("q96_trade_pagerank")
    assert(p.contains("InMemoryTableScan"),
      s"PageRank iterations must read cached edges, not replay the 4-table join\n${p.take(3000)}")
  }

  test("q101: span islands cost one data shuffle; the repeated-set join broadcasts") {
    val p = plan("q101_dup_spans")
    // data exchanges: repeated-shingle agg, the doc-keyed window
    // sort, the final orderBy — the two Window nodes (running max +
    // island sum) must share the one sort, never add a fourth
    val dataEx = "(?<!Broadcast)Exchange".r.findAllIn(p).size
    assert(dataEx <= 3, s"expected <=3 data exchanges, got $dataEx\n${p.take(3000)}")
    assert("Window".r.findAllIn(p).size >= 2)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q103: wedge join and closure stay equi-joins over the edge set") {
    val p = plan("q103_triangle_count")
    assert(p.contains("LeftSemi"), p.take(2000))
    // nested loops only combine the three 1-row summary frames
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"nested-loop joins beyond the 1-row combines: $bnlj")
  }

  test("q106: the CDC rank-1 cut pushes below the shuffle (WindowGroupLimit)") {
    val p = plan("q106_cdc_apply")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q116: codebook attaches as a broadcast; the prune is a cluster equi-join") {
    val p = plan("q116_semantic_dedup")
    // k-means assignment scans attach the k-row codebook via
    // broadcast nested loop (the intended probe shape) — the
    // within-cluster pair join itself must be an equi-join, never a
    // full cartesian
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("cluster"), p.take(2000))
  }

  test("q117: BPE apply is a scan projection feeding one partial+final aggregate") {
    val p = plan("q117_bpe_tokenize")
    assert(p.contains("bpe_encode"), p.take(2000))
    // no joins: train happens driver-side on the bounded word table,
    // apply is per-row — the returned plan is scan → project → agg
    assert(!p.contains("Join"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q118/q120: rule report and normalization are pure scan projections") {
    // the only exchange either query may plan is its output orderBy —
    // no joins, no aggregates: the 100 TB cost is the scan itself
    for (q <- Seq("q118_gopher_rules", "q120_normalize")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q plans a join\n${p.take(2000)}")
      assert(!p.contains("HashAggregate"), s"$q plans an aggregate\n${p.take(2000)}")
      val ex = "Exchange".r.findAllIn(p).size
      assert(ex <= 1, s"$q: expected <=1 exchange (output sort), got $ex\n${p.take(3000)}")
    }
  }

  test("q119: containment is equi-join + partial/final aggregate, never all-pairs") {
    val p = plan("q119_contamination_graded")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q121: batch assignment reuses the window partitioning for the aggregate") {
    val p = plan("q121_length_batching")
    assert(!p.contains("Join"), p.take(2000))
    // exchanges: the (bucket, salt) window shuffle + the output
    // orderBy — the groupBy(bucket, salt, batch) must NOT add a
    // third (hash on a subset already co-locates the superset key)
    val ex = "Exchange".r.findAllIn(p).size
    assert(ex <= 2, s"expected <=2 exchanges, got $ex\n${p.take(3000)}")
    // and no single-partition global sort before the window
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("q131: repetition battery is one scan pass — no shuffle before the summary") {
    val p = plan("q131_repetition_rules")
    assert(p.contains("MapPartitions"), p.take(2000))
    // the only exchanges are the 2-row summary aggregate + its sort;
    // a corpus-wide (doc, n, gram) shuffle would add more
    assert("Exchange".r.findAllIn(p).size <= 3,
      s"repetition shuffles the n-gram stream\n${p.take(3000)}")
  }

  test("q133: drift totals attach as a 1-row broadcast, never a window") {
    val p = plan("q133_corpus_drift")
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"totals must broadcast\n${p.take(3000)}")
  }

  test("q135: vocab is a bounded TakeOrdered and joins as a broadcast") {
    val p = plan("q135_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab cutoff must not global-sort the corpus\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q138: ADC scoring joins the broadcast LUT by hash — no nested loop over codes") {
    val p = plan("q138_ann_pq_topk")
    // the code-rows × per-query-LUT fan-out must be a broadcast HASH
    // join on (sub, code): a nested-loop shape here would scan the
    // whole LUT per code row and lose the PQ bandwidth win
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q141: bloom probe filters the fact side below the join") {
    val p = plan("q141_bloom_pruned_join")
    assert(p.contains("might_contain"), p.take(3000))
    // tree print order: children after parents — the probe must sit
    // under the join (on the fact scan), not above it
    assert(p.indexOf("might_contain") > p.indexOf("Join"),
      s"probe must be below the join\n${p.take(3000)}")
  }

  test("q142/q143: sketch aggregations are typed two-phase, no window") {
    for (q <- Seq("q142_tdigest_rollup", "q143_kmv_overlap")) {
      val p = plan(q)
      // typed Aggregator lowers to ObjectHashAggregate with a
      // partial+final split (map-side combine of sketches)
      assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
        s"$q: expected partial+final typed aggregation\n${p.take(3000)}")
      assert(!p.contains("Window"), s"$q plans a window\n${p.take(2000)}")
    }
  }

  test("q152: the persisted-sketch rollup stage never re-scans the fact table") {
    // the claim behind the sketch-table lifecycle: once per-period
    // digests are written, whole-span percentiles come from the
    // sketch table ALONE — the rollup plan must scan only the digest
    // dataset, never lineitem
    import graft.functions.{TDigestAgg, TDigestMergeAgg}
    import org.apache.spark.sql.functions._
    val dig = udaf(TDigestAgg(200))
    val mrg = udaf(TDigestMergeAgg(200, Seq(0.5, 0.9, 0.99)))
    val li = Tables.lineitem(spark, sf).select(col("l_returnflag"),
      col("l_quantity"),
      (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
        .cast("long").as("period"))
    val perPeriod = li.groupBy("l_returnflag", "period")
      .agg(dig(col("l_quantity")).as("digest"))
    val path = tmpDir("q152plan") + "/digests"
    graft.etl.Load.writeSharded(spark, perPeriod, "period", None, path)
    val rolled = graft.etl.Load.readSharded(spark, path)
      .groupBy("l_returnflag")
      .agg(mrg(col("digest.means"), col("digest.weights")).as("qs"))
    val p = rolled.queryExecution.executedPlan.toString
    assert(p.contains("digests"), p.take(2000))
    assert(!p.contains("lineitem"),
      s"rollup stage re-scans the fact table\n${p.take(3000)}")
  }

  test("q145: both funnel window passes share one user_id exchange") {
    val p = plan("q145_window_funnel")
    assert(p.contains("Window"), p.take(2000))
    // user_id exchange + the single-row final aggregate; a second
    // per-user shuffle would mean the window specs stopped aligning
    val ex = "Exchange".r.findAllIn(p).size
    assert(ex <= 3, s"expected <=3 exchanges, got $ex\n${p.take(3000)}")
  }

  test("q146: sequence match is groupBy + reduce, no window, no join") {
    val p = plan("q146_sequence_match")
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    val ex = "Exchange".r.findAllIn(p).size
    assert(ex <= 3, s"expected <=3 exchanges, got $ex\n${p.take(3000)}")
  }

  test("q159: the index-served BM25 stage never re-scans the corpus text") {
    // the inverted-index lifecycle claim: once postings + doclens
    // are persisted, query serving reads ONLY the index tables
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val root = tmpDir("q159plan")
    graft.etl.Load.writeAtomic(spark,
      graft.llm.Relevance.indexPostings(docs, "doc_id", "text"), s"$root/post")
    graft.etl.Load.writeAtomic(spark,
      graft.llm.Relevance.indexDocLens(docs, "doc_id", "text"), s"$root/len")
    val served = graft.llm.Relevance.bm25FromIndex(
      graft.etl.Load.readTable(spark, s"$root/post"),
      graft.etl.Load.readTable(spark, s"$root/len"),
      "doc_id", Seq("hash", "scan"))
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("post"), p.take(2000))
    assert(!p.contains("documents.parquet"),
      s"served stage re-scans the corpus\n${p.take(3000)}")
  }

  test("q154: ADC serving from a stored index reads codes, not corpus vectors") {
    // the persisted-ANN claim: candidate scoring touches only the
    // reloaded codebooks + m-codes table; raw embeddings appear
    // ONLY in the per-query LUT build (tiny probe set) and the
    // bounded exact re-rank — never in the full-corpus scoring scan
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val p = graft.llm.Pq.PqParams(ksub = 16)
    val root = tmpDir("q154plan")
    val cents = graft.llm.Pq.trainCodebooks(emb, "vec_id", "embedding", p)
    graft.etl.Load.writeAtomic(spark, cents, s"$root/cb")
    graft.etl.Load.writeAtomic(spark,
      graft.llm.Pq.encode(emb, "vec_id", "embedding", cents, p), s"$root/codes")
    val probes = emb.filter(col("vec_id") % 500 === 0)
    val served = graft.llm.Pq.indexTopK(
      graft.etl.Load.readTable(spark, s"$root/cb"),
      graft.etl.Load.readTable(spark, s"$root/codes"),
      emb, probes, "vec_id", "embedding", 5, p)
    val plan = served.queryExecution.executedPlan.toString
    // the codes table is scanned; embeddings scans exist only under
    // broadcast (LUT/probe norms) or behind the re-rank equi-join
    assert(plan.contains("codes"), plan.take(2000))
  }

  test("q184: the snapshot SQL scan keeps pushdown, pruning, and the custom index") {
    // the SQL-table-format claim made physical: the scan's LOCATION
    // is the SnapshotFileIndex (manifest-listed, stats-skipping),
    // the user's predicate reaches PushedFilters (parquet row-group
    // skipping UNDER the file-level skip), and ReadSchema carries
    // only the referenced columns (column pruning survives the
    // custom relation)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = tmpDir("q184plan")
    val t = (1 to 100).map(i => (i.toLong, s"s$i", i * 2.0))
      .toDF("id", "s", "v")
    graft.etl.Snapshots.commitWithStats(spark,
      t.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, Seq("id"))
    val df = graft.plans.SnapshotSql.sql(spark,
      s"SELECT sum(v) AS sv FROM snap.`$root` WHERE id >= 50")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SnapshotFileIndex"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(id,50)"),
      s"predicate not pushed to the parquet reader\n${p.take(2000)}")
    val rs = "ReadSchema: ([^\\n]*)".r.findFirstMatchIn(p).map(_.group(1))
    assert(rs.exists(r => r.contains("id") && r.contains("v") && !r.contains("s:")),
      s"column pruning lost through the custom relation: $rs")
  }

  test("every scan of a snapshot version's data files plans over SnapshotFileIndex") {
    // the one-opener claim made physical: reads, the change feed, the
    // lineage read and the copy-on-write writers (merge, optimize and
    // the index builds they run) all scan the version's files through
    // the manifest-listed index, never a path-listed InMemoryFileIndex
    import graft.etl.Snapshots
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = tmpDir("snapscan")
    Snapshots.commitWithStats(spark, (1 to 80).map(i => (i.toLong, i * 2L)).toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id"), root, Seq("id"))
    Snapshots.deleteWhere(spark, root, col("id") === 3L)
    val v = Snapshots.append(spark, (81 to 120).map(i => (i.toLong, i * 2L)).toDF("id", "v"),
      root, statsCols = Seq("id"))
    val verbs: Seq[(String, () => Unit)] = Seq(
      "read" -> (() => Snapshots.read(spark, root).collect()),
      "readPruned" -> (() => Snapshots.readPruned(spark, root, None, "id",
        Some(lit(10L)), Some(lit(30L)))._1.collect()),
      "changes" -> (() => Snapshots.changes(spark, root, v - 1, v).df.collect()),
      "readWithLineage" -> (() => Snapshots.readWithLineage(spark, root).collect()),
      "merge" -> (() => Snapshots.merge(spark, Seq((5L, 0L), (500L, 1L)).toDF("id", "v"),
        root, "id", Seq("id"))),
      "optimize" -> (() => Snapshots.optimize(spark, root, statsCols = Seq("id"))))
    verbs.foreach { case (name, run) =>
      val scans = plansDuring(run()).flatMap(flattenPlan).collect {
        case s: FileSourceScanExec if (s.relation.location.inputFiles.toSeq ++
            s.relation.location.rootPaths.map(_.toString)).exists(_.contains(s"$root/data/")) => s
      }
      assert(scans.nonEmpty, s"$name scanned no data file")
      scans.foreach(s => assert(
        s.relation.location.isInstanceOf[graft.plans.SnapshotFileIndex],
        s"$name scanned through ${s.relation.location.getClass.getSimpleName}"))
    }
  }

  test("q155: the pruned scan opens only the candidate files") {
    // the data-skipping claim made physical: the pruned read's scan
    // node holds exactly the stats-selected file list, not the full
    // dataset — Spark's inputFiles is the planned scan set
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = tmpDir("q155plan")
    val df = (1L to 2000L).map(i => (i, i % 13)).toDF("k", "v")
    graft.etl.Load.writeClustered(spark, df, "k", 10, s"$d/t")
    val stats = graft.etl.StatsIndex.build(spark, s"$d/t", Seq("k"))
    val (pruned, nRead, nTotal) = graft.etl.StatsIndex.prunedRead(
      spark, s"$d/t", stats, "k", Some(lit(400L)), Some(lit(700L)))
    assert(nRead < nTotal, s"no pruning: $nRead of $nTotal")
    assert(pruned.inputFiles.length === nRead,
      s"scan plans ${pruned.inputFiles.length} files, stats selected $nRead")
  }

  test("driver contract: every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    assert(SparkEntry.queries.nonEmpty && SparkEntry.oracleSql.nonEmpty)
  }

  test("no query plans a cartesian product except the broadcast-probe scans") {
    // brute-force cosine (q34) broadcasts a 5-row probe set — that
    // nested-loop join is the intended scan shape; everything else
    // must be equi-join based.
    val allowed = Set("q34_cosine_topk")
    SparkEntry.queries.keys.filterNot(allowed).foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plans a cartesian product")
    }
  }
}
