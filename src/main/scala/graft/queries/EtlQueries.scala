package graft.queries

import graft.Tables
import graft.etl._
import org.apache.spark.sql.functions._
import QueryDefs._

/** Parity queries for the reference's ETL operator surface
  * (SURVEY.md §2.2-§2.8), exercised over the driver testdata so
  * each has a DuckDB oracle. Each query names the §2 rows it
  * covers.
  */
object EtlQueries {

  val queries: Map[String, Q] = Map(
    // q01 — M1/M2/M3 + A1 (flagship): revenue by mapped category.
    // Broadcast dim join (scales: dim ≪ threshold, fact side never
    // shuffles for the join; one hash-agg shuffle on `category`).
    "q01_revenue_by_category" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_partkey", "l_extendedprice", "l_discount")
      val p = Tables.part(s, dir).select("p_partkey", "p_type")
      val dim = Categorize.typeDimDF(s).select("p_type", "category")
      li.join(p, li("l_partkey") === p("p_partkey"))
        .join(broadcast(dim), Seq("p_type"), "left")
        .na.fill("Uncategorized", Seq("category"))
        .groupBy("category")
        .agg(
          moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("category")
    }),

    // q02 — G1+G2+G3: split → explode → empty-filter, token counts.
    "q02_token_explode" -> ((s, dir) => {
      Tables.part(s, dir)
        .select(explode(split(col("p_name"), " ")).as("token"))
        .filter(trim(col("token")) =!= "")
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy("token")
    }),

    // q03 — R1/P5: case-insensitive size-token extract, ''→null,
    // null-group retained.
    "q03_size_extract" -> ((s, dir) => {
      Tables.part(s, dir)
        .select(upper(Extract.extractOpt(col("p_name"), "(small|large|new|old)")).as("size_token"))
        .groupBy("size_token").agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("size_token"))
    }),

    // q04 — R2: row-level hot/cold variation extract with null
    // normalization.
    "q04_variation_extract" -> ((s, dir) => {
      Tables.part(s, dir)
        .select(col("p_partkey"),
          upper(Extract.extractOpt(col("p_name"), "(hot|cold)")).as("variation"))
        .orderBy("p_partkey")
    }),

    // q05 — R3/F3: conditional (masked) extract — only for rows
    // matching the target rlike.
    "q05_flavor_conditional" -> ((s, dir) => {
      val item = col("p_name")
      Tables.part(s, dir)
        .select(col("p_partkey"),
          when(item.rlike("(?i)(widget|gizmo)"),
            upper(Extract.extractOpt(item, "(red|blue|hot|cold|small|large|new|old)")))
            .as("flavor"))
        .orderBy("p_partkey")
    }),

    // q06 — R5: escaped-paren extract over a constructed token.
    "q06_spice_paren_extract" -> ((s, dir) => {
      val tok = concat(lit("lot ("), col("p_size").cast("string"), lit("/4)"))
      Tables.part(s, dir)
        .select(col("p_partkey"),
          Extract.try_cast(Extract.extractOpt(tok, "\\((\\d+)/4\\)"), "int").as("spice"))
        .orderBy("p_partkey")
    }),

    // q07 — R6: quantity extract `x<digits>` with default 1.0.
    "q07_qty_extract_default" -> ((s, dir) => {
      val withQty = concat(col("p_name"), lit(" x"), col("p_size").cast("string"))
      val item = when(col("p_size") % 3 === 0, withQty).otherwise(col("p_name"))
      Tables.part(s, dir)
        .select(col("p_partkey"), Extract.quantity(item).as("qty"))
        .orderBy("p_partkey")
    }),

    // q08 — R7/R8/R9/R10: masked two-part rename, null-propagating
    // concat, cleanup chain, literal correction.
    "q08_two_part_rename" -> ((s, dir) => {
      val item = col("p_name")
      val isTarget = item.rlike("(?i)(widget|bolt|ring)")
      val cat0 = upper(Extract.extractOpt(item, "(widget|bolt|ring)"))
      val cat = when(cat0 === "BOLT", lit("BOLTS")).otherwise(cat0)
      val flav = upper(Extract.extractOpt(item, "(red|blue|hot|cold|small|large|new|old)"))
      val twoPart = concat(cat, lit(" - "), flav) // null-propagating (R8)
      val cleaned = upper(Extract.cleanupItem(item))
      val named = when(isTarget, twoPart).otherwise(cleaned)
      Tables.part(s, dir)
        .select(col("p_partkey"),
          regexp_replace(named, "RED", "CRIMSON").as("clean_item"))
        .orderBy("p_partkey")
    }),

    // q09 — R13: thousand-separator strip + errors='coerce' cast.
    "q09_numeric_coerce" -> ((s, dir) => {
      val base = col("o_totalprice").cast("decimal(12,2)").cast("string")
      val raw = when(col("o_orderkey") % 10 === 0, lit("N/A"))
        .otherwise(concat(lit("1,"), base))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), Extract.toNumber(raw).as("parsed"))
        .orderBy("o_orderkey")
    }),

    // q10 — U1: payment-type when/otherwise chain (no UDF).
    "q10_payment_type" -> ((s, dir) => {
      val cash = when(col("o_orderstatus") === "F", lit("0.00"))
        .when(col("o_orderstatus") === "O",
          col("o_totalprice").cast("decimal(12,2)").cast("string"))
        .otherwise(lit("-"))
      val gcash = when(col("o_orderstatus") === "P" && col("o_orderkey") % 2 === 0, lit("100"))
        .otherwise(lit("-"))
      Tables.orders(s, dir)
        .select(PaymentType.paymentType(cash, gcash).as("payment_type"))
        .groupBy("payment_type").agg(count(lit(1)).as("n"))
        .orderBy("payment_type")
    }),

    // q11 — P5/M3: partial literal map, misses → 'Uncategorized'.
    "q11_null_fill_uncategorized" -> ((s, dir) => {
      val mapped = Categorize.mapLiteral(col("p_type"),
        Map("ECONOMY" -> "Budget", "PROMO" -> "Budget", "LARGE" -> "Premium"),
        lit("Uncategorized"))
      Tables.part(s, dir)
        .select(mapped.as("category"))
        .groupBy("category").agg(count(lit(1)).as("n"))
        .orderBy("category")
    }),

    // q12 — P6 (redesigned): footer drop by predicate, not position.
    "q12_footer_drop" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val mx = o.agg(max("o_orderkey").as("max_key"))
      o.join(broadcast(mx))
        .filter(col("o_orderkey") =!= col("max_key"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
    }),

    // q13/q14 — F5: validation / quarantine split. Same upstream
    // expression, two pushed-down filters; quarantine rule mirrors
    // the reference (null item OR negative amount).
    "q13_valid_clean" -> ((s, dir) => f5(s, dir, clean = true)),
    "q14_valid_quarantine" -> ((s, dir) => f5(s, dir, clean = false)),

    // q15 — C1: unionByName across differently-ordered projections.
    "q15_union_all" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey").as("k"), lit("A").as("src"))
      val b = o.filter(col("o_orderstatus") === "F")
        .select(lit("B").as("src"), col("o_orderkey").as("k"))
      a.unionByName(b).orderBy("src", "k")
    }),

    // q16 — C2/A8: exact dedup counts (business-key + content hash).
    "q16_dedup_exact" -> ((s, dir) => {
      Tables.documents(s, dir).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct"),
        countDistinct(md5(col("text"))).as("n_hash"))
    }),

    // q17 — S4/C2: upsert latest-wins semantics — row_number over
    // business key by recency, keep first (epoch-second tiebreak
    // avoids the ns-vs-µs timestamp precision gap).
    "q17_latest_per_user" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy("user_id")
    }),

    // q106 — CDC change-log apply (graft.etl.Cdc): events replayed
    // as an upsert/delete feed (an 'error' event tombstones the
    // user), INCREMENTALLY — the log is split into three event_id
    // ranges and folded batch-by-batch through Cdc.mergeBatch.
    // Retained tombstones make the fold order-insensitive, so the
    // result must equal the oracle's one-shot full-log replay
    // (CdcSpec proves the invariant on random splits). This is the
    // delete-capable generalization of the S4 upsert sink's
    // latest-wins semantics (the reference has no delete path).
    "q106_cdc_apply" -> ((s, dir) => {
      val log = Tables.events(s, dir).select(
        col("user_id"), col("event_id"), col("event_type"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"))
      val batches = Seq(
        log.filter(col("event_id") % 3 === 0),
        log.filter(col("event_id") % 3 === 1),
        log.filter(col("event_id") % 3 === 2))
      val folded = batches.tail.foldLeft(
        Cdc.state(batches.head, Seq("user_id"), Seq("event_id"))) {
        (st, b) => Cdc.mergeBatch(st, b, Seq("user_id"), Seq("event_id"))
      }
      Cdc.snapshot(folded, "op", deleteOp = "D")
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy("user_id")
    }),

    // q139 — THE STREAMING STATE STORE, oracle-visible: q106's CDC
    // resolution computed by the actual Structured Streaming runtime
    // through flatMapGroupsWithState (q137 put a streaming
    // AGGREGATION behind the driver's hash gate; this does the same
    // for the custom-state family). The change log is written as
    // JSON-lines and streamed through
    // [[graft.streaming.Ingest.cdcResolvedAvailableNow]] with
    // maxFilesPerTrigger=1, so per-key state genuinely persists
    // across ≥3 micro-batches; each key's last emission is its final
    // resolved state (cdcResolved emits only on change), and the
    // tombstone-filtered snapshot must equal the one-shot full-log
    // replay — the q106 DuckDB oracle verbatim.
    "q139_streaming_cdc" -> ((s, dir) => {
      val log = Tables.events(s, dir).select(
        col("user_id").as("k"), col("event_id").as("ver"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        col("event_type").as("payload"))
      val base = java.nio.file.Files.createTempDirectory("graft_q139").toString
      log.repartition(3).write.mode("overwrite").json(s"$base/staging")
      graft.streaming.Ingest.cdcResolvedAvailableNow(s, s"$base/staging",
        s"$base/chk", s"$base/out", maxFilesPerTrigger = Some(1))
      val rows = s.read.parquet(s"$base/out")
      rows.groupBy("k")
        .agg(expr("max_by(struct(ver, op, payload), batch_id)").as("st"))
        .filter(col("st.op") =!= "D")
        .select(col("k").as("user_id"), col("st.ver").as("event_id"),
          col("st.payload").as("event_type"))
        .orderBy("user_id")
    }),

    // q149 — versioned snapshots + METADATA-ONLY time travel
    // (graft.etl.Snapshots), oracle-gated through a real filesystem
    // (the q137 discipline for IO-flavored operators): commit v1
    // (q83's `prev` frame), commit v2 (`cur`), then ROLL BACK to v1 —
    // rollback publishes a new version that POINTS at v1's data dir,
    // no data rewrite (the 100 TB undo). The query then time-travel
    // reads BOTH historical versions (old versions stay readable
    // after later commits) and classifies their diff via Reconcile;
    // every output row also carries the post-rollback latest version
    // number and row count — if rollback failed to re-point latest at
    // v1's data, latest_rows hash-breaks against the oracle (which
    // derives it from the v1 frame).
    "q149_snapshot_travel" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val v1df = o.filter(col("o_orderkey") % 97 =!= 0)
      val v2df = o.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")))
      val root = java.nio.file.Files.createTempDirectory("graft_q149").toString
      val v1 = Snapshots.commit(s, v1df, root)
      val v2 = Snapshots.commit(s, v2df, root)
      Snapshots.rollback(s, root, v1)
      val latestV = Snapshots.latestVersion(s, root).get
      val latestRows = Snapshots.read(s, root).count()
      Reconcile.diff(Snapshots.read(s, root, Some(v1)),
          Snapshots.read(s, root, Some(v2)),
          Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
        .groupBy("diff_status")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice_cur") - col("o_totalprice_prev")).as("price_delta"))
        .withColumn("latest_version", lit(latestV))
        .withColumn("latest_rows", lit(latestRows))
        .orderBy("diff_status")
    }),

    // q155 — FILE-LEVEL DATA SKIPPING through a persisted stats
    // index (graft.etl.StatsIndex — the Delta/Iceberg pattern):
    // write the fact clustered on the predicate column
    // (Load.writeClustered: disjoint per-file key ranges), build the
    // per-file min/max stats table in one scan, then answer a
    // one-year range query by pruning the FILE LIST from the stats
    // alone — the scan opens only the files whose interval can
    // intersect the range, never touching the other files' footers
    // (at 100 TB, "read every footer to decide what to skip" is
    // itself the bottleneck; this is the metadata-only plan). The
    // oracle replays the aggregate from the full table: a wrongly
    // pruned file would drop rows and hash-break the sums — pruning
    // soundness is value-checked, not asserted. files_pruned /
    // files_nonzero pin in-plan that the prune actually bit
    // (candidates < total) without being vacuous (candidates > 0).
    "q155_stats_skipping" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q155").toString
      graft.etl.Load.writeClustered(s, li, "l_shipdate", 16, s"$root/li")
      val stats = graft.etl.StatsIndex.build(s, s"$root/li", Seq("l_shipdate"))
      // shipdates are midnight-only timestamps, so the closed
      // interval [Jan 1, Dec 31] is exactly "the year 1997" on both
      // engines
      val (pruned, nRead, nTotal) = graft.etl.StatsIndex.prunedRead(
        s, s"$root/li", stats, "l_shipdate",
        Some(lit("1997-01-01").cast("timestamp")),
        Some(lit("1997-12-31").cast("timestamp")))
      pruned.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("files_pruned", lit(nRead < nTotal))
        .withColumn("files_nonzero", lit(nRead > 0))
        .orderBy("l_returnflag")
    }),

    // q160 — INCREMENTAL stats-index maintenance under APPENDS (the
    // q155 index kept fresh the way a daily ingest actually works):
    // the base table (shipdates < 1999) lands range-clustered; a
    // later batch (1999+) APPENDS four unclustered files, and
    // StatsIndex.updateFor brings the stats table up to date by
    // scanning ONLY those four — one filesystem listing + a scan of
    // the new files, never the million-file history ([[build]]'s
    // full pass is the bootstrap, this is the steady state). The
    // 1999-range query then prunes to exactly the four appended
    // files (every base file's max is below the range — the stats
    // prove it from metadata alone). files_total/files_read are
    // emitted as values (12+4 and 4 — deterministic from the fixed
    // layout) so the oracle pins the prune arithmetic, and the sums
    // replay from the full table so a stale or wrong stats row
    // hash-breaks the values.
    "q160_stats_incremental" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val cut = lit("1999-01-01").cast("timestamp")
      val root = java.nio.file.Files.createTempDirectory("graft_q160").toString
      graft.etl.Load.writeClustered(s, li.filter(col("l_shipdate") < cut),
        "l_shipdate", 12, s"$root/li")
      val statsV1 = graft.etl.StatsIndex.build(s, s"$root/li", Seq("l_shipdate"))
        .cache() // pin v1 so updateFor's diff sees the pre-append state
      statsV1.count()
      li.filter(col("l_shipdate") >= cut).repartition(4)
        .write.mode("append").parquet(s"$root/li")
      val statsV2 = graft.etl.StatsIndex.updateFor(
        s, s"$root/li", statsV1, Seq("l_shipdate"))
      val (pruned, nRead, nTotal) = graft.etl.StatsIndex.prunedRead(
        s, s"$root/li", statsV2, "l_shipdate",
        Some(cut), Some(lit("1999-12-31").cast("timestamp")))
      pruned.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("files_total", lit(nTotal.toLong))
        .withColumn("files_read", lit(nRead.toLong))
        .orderBy("l_returnflag")
    }),

    // q162 — data skipping over a PARTITION-DIR layout (the layout
    // every real 100 TB ingest table has; q155 proved the flat
    // case): the fact lands Hive-partitioned by ship year (`yr=`
    // dirs, 2 files per partition), the stats index lists the tree
    // RECURSIVELY and records per-file min/max for BOTH the
    // partition column and the in-file timestamp — so file-level
    // skipping subsumes partition pruning (a `yr=1997` file's
    // l_shipdate interval is exactly the year, every other
    // partition's files prune from metadata alone). The oracle
    // replays the aggregate from the full table: a wrongly pruned
    // file drops rows and hash-breaks the sums.
    "q162_partitioned_skipping" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q162").toString
      li.withColumn("yr", year(col("l_shipdate")).cast("long"))
        .repartition(2)
        .write.partitionBy("yr").parquet(s"$root/li")
      val stats = graft.etl.StatsIndex.build(s, s"$root/li",
        Seq("yr", "l_shipdate"))
      val (pruned, nRead, nTotal) = graft.etl.StatsIndex.prunedRead(
        s, s"$root/li", stats, "l_shipdate",
        Some(lit("1997-01-01").cast("timestamp")),
        Some(lit("1997-12-31").cast("timestamp")))
      pruned.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("files_pruned", lit(nRead < nTotal))
        .withColumn("files_nonzero", lit(nRead > 0))
        .orderBy("l_returnflag")
    }),

    // q163 — snapshots × data skipping (Snapshots.commitWithStats —
    // closing the q149/q155 composition gap): every commit also
    // builds the per-file min/max stats index for its immutable data
    // dir, so a TIME-TRAVEL read prunes its file list from metadata
    // exactly like a latest read. The query commits two range-
    // clustered versions, rolls back to v1 (metadata-only — and the
    // re-pointed version REUSES v1's stats index, zero work), then
    // answers a key-range query via Snapshots.readPruned against the
    // HISTORICAL v1 and against post-rollback latest. The flags pin
    // that both reads pruned (read < total, read > 0) and that the
    // rollback's index serving equals v1's; the values replay from
    // the base table (a wrong prune drops rows and hash-breaks).
    "q163_snapshot_pruned_travel" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val clustered = (df: org.apache.spark.sql.DataFrame) =>
        df.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey")
      val root = java.nio.file.Files.createTempDirectory("graft_q163").toString
      val v1 = Snapshots.commitWithStats(s,
        clustered(o.filter(col("o_orderkey") % 97 =!= 0)), root, Seq("o_orderkey"))
      Snapshots.commitWithStats(s,
        clustered(o.filter(col("o_orderkey") % 89 =!= 0)), root, Seq("o_orderkey"))
      Snapshots.rollback(s, root, v1)
      val lo = Some(lit(1L)); val hi = Some(lit(1500L))
      val (asOf, aRead, aTotal) = Snapshots.readPruned(
        s, root, Some(v1), "o_orderkey", lo, hi)
      val (latest, lRead, lTotal) = Snapshots.readPruned(
        s, root, None, "o_orderkey", lo, hi)
      asOf.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("files_pruned", lit(aRead < aTotal))
        .withColumn("files_nonzero", lit(aRead > 0))
        .withColumn("rollback_reuses_index",
          lit(lRead == aRead && lTotal == aTotal))
        .withColumn("latest_version",
          lit(Snapshots.latestVersion(s, root).get))
        .withColumn("latest_rows", lit(latest.count()))
        .orderBy("o_orderstatus")
    }),

    // q165 — STREAMING stats-index maintenance (the q160 index kept
    // fresh by the INGEST PATH itself — Ingest.
    // statsIndexedIngestAvailableNow): three mtime-ordered parquet
    // slices arrive as real AvailableNow micro-batches; each batch
    // lands in a batch_id= partition (dynamic overwrite — replay-
    // idempotent) and then runs StatsIndex.updateFor, which scans
    // ONLY the files that batch added (the recursive partition-dir
    // listing from q162). The 1997 range query then prunes the final
    // table through the stream-maintained stats;
    // stats_match_rebuild pins slicing invariance in the strongest
    // form — the incrementally-maintained index is row-identical to
    // a from-scratch rebuild of the final table — and the aggregate
    // values replay from the base table.
    "q165_streaming_stats_ingest" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val c1 = lit("1997-01-01").cast("timestamp")
      val c2 = lit("1999-01-01").cast("timestamp")
      val base = java.nio.file.Files.createTempDirectory("graft_q165").toString
      graft.streaming.Ingest.stageOrderedParquet(s, Seq(
        li.filter(col("l_shipdate") < c1),
        li.filter(col("l_shipdate") >= c1 && col("l_shipdate") < c2),
        li.filter(col("l_shipdate") >= c2)), s"$base/staging")
      graft.streaming.Ingest.statsIndexedIngestAvailableNow(s,
        s"$base/staging", s"$base/chk", s"$base/t", s"$base/stats",
        Seq("l_shipdate"), li.schema.toDDL, maxFilesPerTrigger = Some(1))
      val stats = Load.readTable(s, s"$base/stats")
      val rebuild = graft.etl.StatsIndex.build(s, s"$base/t", Seq("l_shipdate"))
      val statsOk = sameMultiset(stats, rebuild)
      val (pruned, nRead, nTotal) = graft.etl.StatsIndex.prunedRead(
        s, s"$base/t", stats, "l_shipdate",
        Some(c1), Some(lit("1997-12-31").cast("timestamp")))
      pruned.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("stats_match_rebuild", lit(statsOk))
        .withColumn("files_pruned", lit(nRead < nTotal))
        .withColumn("files_nonzero", lit(nRead > 0))
        .orderBy("l_returnflag")
    }),

    // q166 — snapshot OPTIMIZE (the Delta-OPTIMIZE analogue for the
    // versioned tier): a small-file-heavy commit (48 shards — the
    // micro-batch accretion shape) is compacted into a NEW version
    // whose data is bit-identical, while the old layout stays
    // time-travel readable; because snapshot data dirs are
    // immutable, compaction-as-a-version is what makes OPTIMIZE safe
    // under concurrent readers. The compacted version gets its own
    // stats index through the same commit hook, and the final range
    // query serves through it. Flags pin data identity (exceptAll
    // both ways), the file-count collapse (48 → 1, deterministic
    // from the fixed targetBytes), and the intact 2-version history;
    // the values replay from the base table.
    "q166_snapshot_optimize" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q166").toString
      val v1 = Snapshots.commitWithStats(s,
        o.filter(col("o_orderkey") % 97 =!= 0).repartition(48),
        root, Seq("o_orderkey"))
      val v2 = Snapshots.optimize(s, root,
        targetBytes = 1L << 30, statsCols = Seq("o_orderkey")).version
      val before = Snapshots.read(s, root, Some(v1))
      val after = Snapshots.read(s, root, Some(v2))
      val filesBefore = before.select(input_file_name()).distinct().count()
      val filesAfter = after.select(input_file_name()).distinct().count()
      val identical = sameMultiset(before, after)
      val (pruned, nRead, nTotal) = Snapshots.readPruned(
        s, root, None, "o_orderkey", Some(lit(1L)), Some(lit(1500L)))
      pruned.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("data_identical", lit(identical))
        .withColumn("files_shrank", lit(filesAfter < filesBefore))
        .withColumn("files_after", lit(filesAfter))
        .withColumn("history_intact",
          lit(Snapshots.versions(s, root) == Seq(1L, 2L)))
        .withColumn("files_nonzero", lit(nRead > 0 && nRead <= nTotal))
        .orderBy("o_orderstatus")
    }),

    // q167 — MULTI-COLUMN data skipping over a Z-ORDERED layout (the
    // q155 index composed with ZOrder.writeZOrdered — the reason
    // z-order exists): the fact lands Morton-clustered on
    // (l_orderkey, l_partkey), the stats index records per-file
    // min/max for BOTH, and a box predicate prunes the file list by
    // INTERSECTING the two dimensions' candidate sets
    // (StatsIndex.prunedReadMulti) — opening ~O(box volume) of the
    // files where single-key clustering prunes only its own
    // dimension. box_tighter_or_equal pins the intersection never
    // opens more files than one dimension alone; the values replay
    // from the full table so a wrongly pruned file hash-breaks.
    "q167_zorder_multiskip" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_partkey", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q167").toString
      graft.etl.ZOrder.writeZOrdered(s, li, Seq("l_orderkey", "l_partkey"),
        bits = 8, numFiles = 32, s"$root/li")
      val stats = graft.etl.StatsIndex.build(s, s"$root/li",
        Seq("l_orderkey", "l_partkey"))
      val box = Seq(
        ("l_orderkey", Some(lit(1L)), Some(lit(3000L))),
        ("l_partkey", Some(lit(1L)), Some(lit(500L))))
      val (pruned, nRead, nTotal) = graft.etl.StatsIndex.prunedReadMulti(
        s, s"$root/li", stats, box)
      val oneDim = graft.etl.StatsIndex.candidateFiles(
        stats, "l_orderkey", Some(lit(1L)), Some(lit(3000L))).size
      pruned.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("files_pruned", lit(nRead < nTotal))
        .withColumn("files_nonzero", lit(nRead > 0))
        .withColumn("box_tighter_or_equal", lit(nRead <= oneDim))
        .orderBy("l_returnflag")
    }),

    // q168 — COPY-ON-WRITE row-level MERGE on the snapshot tier
    // (Snapshots.merge — the Delta MERGE INTO analogue, and the only
    // shape row-level mutation can take at 100 TB): a key-LOCALIZED
    // update batch (keys ≤ 300 — the "recent partition" reality) plus
    // brand-new keys lands as version 2 of a 12-file key-clustered
    // table; file targeting is METADATA (the version's per-file
    // min/max stats joined to the update keys), matched files rewrite
    // with updates replacing matched rows, and every untouched file is
    // carried into v2 BY REFERENCE through the manifest — never read,
    // never copied. The flags pin the scale contract (rewrite strictly
    // bounded and nonzero, history intact, v1 row-identical for time
    // travel); the VALUES replay the upsert row-for-row in DuckDB —
    // a dropped untouched file, a double-applied update, or a lost
    // insert all hash-break the group sums.
    "q168_snapshot_merge" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q168").toString
      val v1 = Snapshots.commitWithStats(s,
        o.repartitionByRange(12, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      val upd = o.filter(col("o_orderkey") <= 300L)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .unionByName(o.filter(col("o_orderkey") % 1000 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("I").as("o_orderstatus"), col("o_totalprice")))
      val r = Snapshots.merge(s, upd, root, "o_orderkey", Seq("o_orderkey"))
      val baseN = o.count()
      val v1N = Snapshots.read(s, root, Some(v1)).count()
      Snapshots.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("rewrite_bounded", lit(r.filesRewritten < r.filesTotal))
        .withColumn("rewrite_nonzero", lit(r.filesRewritten > 0))
        .withColumn("history_intact",
          lit(Snapshots.versions(s, root) == Seq(1L, 2L)))
        .withColumn("v1_unchanged", lit(v1N == baseN))
        .orderBy("o_orderstatus")
    }),

    // q169 — COPY-ON-WRITE range DELETE (Snapshots.deleteRange — the
    // GDPR/retention-purge shape): everything shipped from 1998-06-01
    // on is deleted from a 12-file shipdate-clustered table. The
    // range is date-LOCALIZED, so only the tail files rewrite
    // (rewrite_bounded/nonzero pin it); the purged rows stay
    // time-travel readable in v1 until vacuum — retention is an
    // explicit policy, not an accident (history_retains). Values
    // replay the complement aggregate from the full table: a wrongly
    // skipped candidate file (rows kept that should be gone) or a
    // dropped untouched file both hash-break.
    "q169_snapshot_delete" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q169").toString
      val v1 = Snapshots.commitWithStats(s,
        li.repartitionByRange(12, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate"), root, Seq("l_shipdate"))
      val cut = lit("1998-06-01").cast("timestamp")
      val r = Snapshots.deleteRange(s, root, "l_shipdate",
        Some(cut), None, Seq("l_shipdate"))
      val v1N = Snapshots.read(s, root, Some(v1)).count()
      val latest = Snapshots.read(s, root)
      val latestN = latest.count()
      latest.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("rewrite_bounded", lit(r.filesRewritten < r.filesTotal))
        .withColumn("rewrite_nonzero", lit(r.filesRewritten > 0))
        .withColumn("history_retains", lit(v1N > latestN))
        .orderBy("l_returnflag")
    }),

    // q170 — per-file BLOOM index point lookup (StatsIndex.buildBloom
    // / prunedReadPoint — the skipping case min/max CANNOT serve): the
    // table is clustered by l_shipdate, so every file's
    // [min,max] l_orderkey range spans ~the whole key space and range
    // stats keep (nearly) all files for `l_orderkey = 7`; the
    // per-file Bloom sketches — built with the engine's own
    // BloomFilterAggregate insert path over xxhash64 — prune to ~the
    // files that actually contain the key. bloom_leq_minmax is
    // deterministic (the bloom candidates are an intersection);
    // bloom_pruned pins that the sketch actually bit; values replay
    // the point aggregate from the full table (a false NEGATIVE —
    // the one failure a bloom must never have — drops rows and
    // hash-breaks).
    "q170_bloom_point_lookup" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q170").toString
      Load.writeClustered(s, li, "l_shipdate", 16, s"$root/li")
      val stats = graft.etl.StatsIndex.build(s, s"$root/li", Seq("l_orderkey"))
      val bloom = graft.etl.StatsIndex.buildBloom(s, s"$root/li",
        "l_orderkey", expectedItemsPerFile = 1L << 16)
      val (hit, nRead, nMinMax, nTotal) = graft.etl.StatsIndex.prunedReadPoint(
        s, s"$root/li", stats, bloom, "l_orderkey", 7L)
      hit.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("bloom_pruned", lit(nRead < nTotal))
        .withColumn("bloom_leq_minmax", lit(nRead <= nMinMax))
        .withColumn("files_nonzero", lit(nRead > 0))
        .orderBy("l_returnflag")
    }),

    // q171 — STREAMING exactly-once snapshot ingest
    // (Ingest.snapshotIngestAvailableNow — the lakehouse sink: every
    // real AvailableNow micro-batch commits as a snapshot VERSION via
    // the metadata-only append, tagged with its batch id). The run
    // ingests three orderkey-sliced batches, then a SECOND run from a
    // FRESH checkpoint replays the same batch ids — the version log's
    // tags make it a complete no-op (versions_3 after BOTH runs is
    // the exactly-once pin). v2_prefix pins batch-boundary time
    // travel (version 2 ≡ slices 1+2); the final range read serves
    // through the append-maintained stats index (files_pruned). The
    // values replay the 600-900 key range from the base table.
    "q171_streaming_snapshot_ingest" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val base = java.nio.file.Files.createTempDirectory("graft_q171").toString
      graft.streaming.Ingest.stageOrderedParquet(s, Seq(
        li.filter(col("l_orderkey") <= 500L),
        li.filter(col("l_orderkey") > 500L && col("l_orderkey") <= 1000L),
        li.filter(col("l_orderkey") > 1000L)), s"$base/staging")
      graft.streaming.Ingest.snapshotIngestAvailableNow(s,
        s"$base/staging", s"$base/chk", s"$base/t", Seq("l_orderkey"),
        li.schema.toDDL, maxFilesPerTrigger = Some(1))
      // fresh checkpoint, same staging: ids 0..2 replay and must skip
      graft.streaming.Ingest.snapshotIngestAvailableNow(s,
        s"$base/staging", s"$base/chk2", s"$base/t", Seq("l_orderkey"),
        li.schema.toDDL, maxFilesPerTrigger = Some(1))
      val vs = Snapshots.versions(s, s"$base/t")
      val v2N = Snapshots.read(s, s"$base/t", Some(2L)).count()
      val prefixN = li.filter(col("l_orderkey") <= 1000L).count()
      val (pruned, nRead, nTotal) = Snapshots.readPruned(
        s, s"$base/t", None, "l_orderkey", Some(lit(600L)), Some(lit(900L)))
      pruned.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("versions_3", lit(vs == Seq(1L, 2L, 3L)))
        .withColumn("v2_prefix", lit(v2N == prefixN))
        .withColumn("files_pruned", lit(nRead < nTotal))
        .withColumn("files_nonzero", lit(nRead > 0))
        .orderBy("l_returnflag")
    }),

    // q172 — SCHEMA EVOLUTION behind the oracle gate (the
    // schema-in-the-log design: Snapshots.append(evolveSchema=true)
    // records the widened schema in the version metadata, so the
    // evolved table reads with ZERO footer sampling — pre-evolution
    // files surface the added column as NULL by parquet by-name
    // resolution, never by a mergeSchema pass over a million
    // footers). A daily batch arrives with a new `channel` column;
    // the aggregate groups across BOTH generations with old rows as
    // 'legacy'. schema_evolved pins the evolved column list;
    // old_nulls pins that every pre-evolution row reads NULL; the
    // values replay the union from the base table.
    "q172_snapshot_schema_evolution" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q172").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      val batch = o.filter(col("o_orderkey") % 7 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"),
          when(col("o_orderkey") % 2 === 0, "web")
            .otherwise("store").as("channel"))
      Snapshots.append(s, batch, root, Seq("o_orderkey"),
        evolveSchema = true)
      val latest = Snapshots.read(s, root)
      val evolved = latest.columns.toSeq ==
        Seq("o_orderkey", "o_orderstatus", "o_totalprice", "channel")
      val oldNulls = latest.filter(col("channel").isNull).count() == o.count()
      latest
        .withColumn("channel", coalesce(col("channel"), lit("legacy")))
        .groupBy("o_orderstatus", "channel")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("schema_evolved", lit(evolved))
        .withColumn("old_nulls", lit(oldNulls))
        .orderBy("o_orderstatus", "channel")
    }),

    // q173 — CHANGE DATA FEED (Snapshots.changes — the incremental-
    // consumer read of the lakehouse tier): a 12-file key-clustered
    // table takes an append (new keys) then a key-localized MERGE
    // (price restatement on keys ≤ 300); changes(v1, v3) computes
    // the net insert/delete multiset between the two states at FILE
    // granularity — carried-forward files cancel by manifest algebra
    // and are NEVER OPENED (diff_bounded pins filesRead strictly
    // below the from-version's file count: the diff cost is the
    // churn, not the table). An update surfaces as delete(old) +
    // insert(new); rewritten-but-surviving rows cancel in exceptAll.
    // optimize_cancels pins the other direction: a layout-only
    // compaction produces ZERO change rows — CDF reports logical
    // change, not file movement. Values replay the state diff in
    // DuckDB via EXCEPT ALL both ways.
    "q173_snapshot_changes" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q173").toString
      val v1 = Snapshots.commitWithStats(s,
        o.repartitionByRange(12, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      val batch = o.filter(col("o_orderkey") % 5 === 0)
        .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
          lit("A").as("o_orderstatus"), col("o_totalprice"))
      Snapshots.append(s, batch, root, Seq("o_orderkey"))
      val upd = o.filter(col("o_orderkey") <= 300L)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
      val r = Snapshots.merge(s, upd, root, "o_orderkey", Seq("o_orderkey"))
      val cs = Snapshots.changes(s, root, v1, r.version)
      val vOpt = Snapshots.optimize(s, root).version
      val optZero = Snapshots.changes(s, root, r.version, vOpt).df.count() == 0L
      cs.df.groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("diff_bounded",
          lit(cs.filesRead < cs.filesFrom + cs.filesTo))
        .withColumn("diff_nonzero", lit(cs.filesRead > 0))
        .withColumn("optimize_cancels", lit(optZero))
        .orderBy("_change_type", "o_orderstatus")
    }),

    // q174 — STREAMING change-feed consumption: the version log
    // ITSELF is the stream (Ingest.snapshotChangesAvailableNow tails
    // `_versions/` — one tiny JSON file per commit — with
    // checkpointed file-source progress, the same way Delta's
    // streaming source tails its transaction log). Three commits
    // land as batch_v=1..3 partitions: the initial snapshot, then
    // per-version net changes read from CHURNED FILES ONLY. The run
    // is split across a checkpoint RESUME (the third commit lands
    // after the first consumer run and only IT processes — the
    // incremental contract) plus a fresh-checkpoint replay that
    // rewrites the same version-keyed partitions verbatim
    // (exactly-once by version id, the q161/q171 discipline —
    // batches_3 would break on a duplicate). feed_equals_table pins
    // union-of-partitions ≡ the final table; values replay each
    // version's key slice.
    "q174_streaming_changes" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val base = java.nio.file.Files.createTempDirectory("graft_q174").toString
      val root = s"$base/t"
      Snapshots.commitWithStats(s,
        li.filter(col("l_orderkey") <= 500L)
          .repartitionByRange(4, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"), root, Seq("l_orderkey"))
      Snapshots.append(s, li.filter(
        col("l_orderkey") > 500L && col("l_orderkey") <= 1000L),
        root, Seq("l_orderkey"))
      graft.streaming.Ingest.snapshotChangesAvailableNow(s, root,
        s"$base/chk", s"$base/out", maxFilesPerTrigger = Some(1))
      Snapshots.append(s, li.filter(col("l_orderkey") > 1000L),
        root, Seq("l_orderkey"))
      // checkpoint RESUME: only the new commit processes
      graft.streaming.Ingest.snapshotChangesAvailableNow(s, root,
        s"$base/chk", s"$base/out")
      // fresh-checkpoint replay: rewrites the same partitions verbatim
      graft.streaming.Ingest.snapshotChangesAvailableNow(s, root,
        s"$base/chk2", s"$base/out")
      val feed = s.read.parquet(s"$base/out")
        .withColumn("batch_v", col("batch_v").cast("long"))
      val batches = feed.select("batch_v").distinct().count()
      val tbl = Snapshots.read(s, root)
      val consumed = feed.filter(col("_change_type") === "insert")
        .drop("_change_type", "batch_v")
        .select(tbl.columns.map(col): _*)
      val equiv = sameMultiset(consumed, tbl)
      val noDel = feed.filter(col("_change_type") === "delete").count() == 0L
      feed.groupBy("batch_v", "l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("batches_3", lit(batches == 3L))
        .withColumn("feed_equals_table", lit(equiv))
        .withColumn("no_deletes", lit(noDel))
        .orderBy("batch_v", "l_returnflag")
    }),

    // q175 — MERGE-ON-READ delete via DELETION VECTORS
    // (Snapshots.deleteWhere — Delta DVs / Iceberg positional
    // deletes): the predicate `l_orderkey % 10 = 3` is scattered
    // across EVERY file of the date-clustered layout — the
    // copy-on-write worst case (deleteRange would rewrite the whole
    // table) and the DV best case: the delete writes one tiny
    // (file, row_index) vector and ZERO data files (zero_rewrite
    // pins the layout id unchanged). Reads apply the vector as a
    // scan anti-join; min/max skipping still composes
    // (pruned_composes — physical stats over-approximate logical
    // rows, pruning stays sound); a repeat delete matches nothing
    // and publishes nothing (redelete_noop); optimize reads
    // logically and so MATERIALIZES the vector away (Delta's
    // REORG APPLY PURGE — materialize_clean). Values replay the
    // complement aggregate.
    "q175_deletion_vectors" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q175").toString
      val v1 = Snapshots.commitWithStats(s,
        li.repartitionByRange(12, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate"), root, Seq("l_shipdate"))
      val r = Snapshots.deleteWhere(s, root, col("l_orderkey") % 10 === 3)
      val sameLayout = Snapshots.versionMeta(s, root, r.version).layoutId ==
        Snapshots.versionMeta(s, root, v1).layoutId
      val r2 = Snapshots.deleteWhere(s, root, col("l_orderkey") % 10 === 3)
      val v1N = Snapshots.read(s, root, Some(v1)).count()
      val latest = Snapshots.read(s, root)
      val latestN = latest.count()
      val lo = lit("1995-01-01").cast("timestamp")
      val hi = lit("1995-12-31").cast("timestamp")
      val (pr, nRead, nTotal) = Snapshots.readPruned(
        s, root, Some(r.version), "l_shipdate", Some(lo), Some(hi))
      val prunedOk = pr.count() ==
        latest.filter(col("l_shipdate").between(lo, hi)).count() &&
        nRead < nTotal
      val vOpt = Snapshots.optimize(s, root).version
      val opt = Snapshots.read(s, root, Some(vOpt))
      val matClean = Snapshots.versionMeta(s, root, vOpt).dv.isEmpty &&
        sameMultiset(opt, latest)
      latest.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("zero_rewrite", lit(sameLayout))
        .withColumn("rows_deleted_match",
          lit(r.rowsDeleted == v1N - latestN && r.rowsDeleted > 0L))
        .withColumn("redelete_noop",
          lit(r2.version == r.version && r2.rowsDeleted == 0L))
        .withColumn("pruned_composes", lit(prunedOk))
        .withColumn("materialize_clean", lit(matClean))
        .orderBy("l_returnflag")
    }),

    // q176 — WRITE-TIME EXPECTATIONS (Snapshots.addConstraint /
    // appendWithExpectations — Delta CHECK constraints fused with the
    // engine's F5 quarantine discipline at the lakehouse boundary):
    // two constraints land as metadata-only versions (each validated
    // against existing data first); a feed batch with planted
    // violations (negated prices, unknown status — including rows
    // violating BOTH) then hits the gate. The STRICT append refuses
    // the whole batch (strict_refused — one predicate pass, before
    // any data lands); the expectations append quarantines exactly
    // the violating rows with `_violation` naming the failed
    // constraints in declaration order, and commits the rest
    // (split_total pins good+bad = batch). Values replay the split:
    // src='table' rows by status, src='quarantine' rows by violation
    // label — a leaked bad row or an over-quarantined good row both
    // hash-break.
    "q176_write_expectations" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q176").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      Snapshots.addConstraint(s, root, "price_positive", "o_totalprice > 0")
      Snapshots.addConstraint(s, root, "status_known",
        "o_orderstatus IN ('O','F','P')")
      val batch = o.filter(col("o_orderkey") % 3 === 0)
        .select((col("o_orderkey") + 300000000L).as("o_orderkey"),
          when(col("o_orderkey") % 13 === 0, lit("Z"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 11 === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      val batchN = batch.count()
      val strictRefused =
        try { Snapshots.append(s, batch, root, Seq("o_orderkey")); false }
        catch { case _: IllegalArgumentException => true }
      val r = Snapshots.appendWithExpectations(s, batch, root,
        s"$root/_quarantine", Seq("o_orderkey"))
      val cons2 = Snapshots.constraintsOf(s, root).map(_._1) ==
        Seq("price_positive", "status_known")
      val splitOk = r.rowsAppended + r.rowsQuarantined == batchN &&
        r.rowsQuarantined > 0L
      val tblAgg = Snapshots.read(s, root)
        .groupBy(col("o_orderstatus").as("k"))
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("src", lit("table"))
      val qAgg = s.read.parquet(s"$root/_quarantine")
        .groupBy(col("_violation").as("k"))
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("src", lit("quarantine"))
      tblAgg.unionByName(qAgg)
        .select("src", "k", "n", "price_sum")
        .withColumn("strict_refused", lit(strictRefused))
        .withColumn("constraints_2", lit(cons2))
        .withColumn("split_total", lit(splitOk))
        .orderBy("src", "k")
    }),

    // q177 — KEYED change feed (Snapshots.changesKeyed — Delta CDF's
    // full vocabulary): across a MERGE (price restatement on keys
    // ≤ 300 + brand-new keys) and a range DELETE (keys 400–600), the
    // keyed feed reclassifies net delete+insert pairs sharing
    // o_orderkey as update_preimage/update_postimage, leaves true
    // inserts and deletes alone — one window pass over the
    // churn-sized frame, base table still never opened
    // (diff_bounded). Values replay all four change classes.
    "q177_keyed_changes" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q177").toString
      val v1 = Snapshots.commitWithStats(s,
        o.repartitionByRange(12, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      val upd = o.filter(col("o_orderkey") <= 300L)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .unionByName(o.filter(col("o_orderkey") % 7 === 0)
          .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("o_totalprice")))
      Snapshots.merge(s, upd, root, "o_orderkey", Seq("o_orderkey"))
      val r = Snapshots.deleteRange(s, root, "o_orderkey",
        Some(lit(400L)), Some(lit(600L)), Seq("o_orderkey"))
      val cs = Snapshots.changesKeyed(s, root, v1, r.version, "o_orderkey")
      cs.df.groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("diff_bounded",
          lit(cs.filesRead < cs.filesFrom + cs.filesTo))
        .orderBy("_change_type", "o_orderstatus")
    }),

    // q178 — STREAMING CDC upsert into the snapshot tier
    // (Ingest.snapshotUpsertAvailableNow): three key-distinct CDC
    // batches — bootstrap, a price/status restatement of keys ≤ 300,
    // then a mixed batch (restate keys 301–500, insert new keys) —
    // MERGE through real AvailableNow micro-batches, each commit
    // tagged with its batch id. A fresh-checkpoint rerun replays all
    // three ids against the version log and is a complete no-op
    // (versions_3 after BOTH runs — the q171 exactly-once discipline
    // at row level). The final range read serves through the
    // merge-maintained stats index (pruned_correct). Values replay
    // the fully-applied CDC state.
    "q178_streaming_upsert" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .filter(col("o_orderkey") <= 1000L)
      val base = java.nio.file.Files.createTempDirectory("graft_q178").toString
      val b2 = o.filter(col("o_orderkey") <= 300L)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + lit(50.0)).as("o_totalprice"))
      val b3 = o.filter(col("o_orderkey") > 300L && col("o_orderkey") <= 500L)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * lit(2.0)).as("o_totalprice"))
        .unionByName(o.filter(col("o_orderkey") % 9 === 0)
          .select((col("o_orderkey") + 500000000L).as("o_orderkey"),
            lit("S").as("o_orderstatus"), col("o_totalprice")))
      graft.streaming.Ingest.stageOrderedParquet(s, Seq(o, b2, b3),
        s"$base/staging")
      graft.streaming.Ingest.snapshotUpsertAvailableNow(s, s"$base/staging",
        s"$base/chk", s"$base/t", "o_orderkey", Seq("o_orderkey"),
        o.schema.toDDL, maxFilesPerTrigger = Some(1))
      // fresh checkpoint, same staging: ids 0..2 replay and must skip
      graft.streaming.Ingest.snapshotUpsertAvailableNow(s, s"$base/staging",
        s"$base/chk2", s"$base/t", "o_orderkey", Seq("o_orderkey"),
        o.schema.toDDL, maxFilesPerTrigger = Some(1))
      val vs = Snapshots.versions(s, s"$base/t")
      // merge-accreted layouts carry overlapping file ranges until an
      // optimize clusterBy — pin the pruned read's CORRECTNESS (reads
      // compose with the merge-maintained stats), not its selectivity
      val (pruned, nRead, nTotal) = Snapshots.readPruned(
        s, s"$base/t", None, "o_orderkey", Some(lit(200L)), Some(lit(400L)))
      val prunedOk = nRead <= nTotal && pruned.count() ==
        Snapshots.read(s, s"$base/t")
          .filter(col("o_orderkey").between(200L, 400L)).count()
      Snapshots.read(s, s"$base/t")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("versions_3", lit(vs == Seq(1L, 2L, 3L)))
        .withColumn("pruned_correct", lit(prunedOk))
        .orderBy("o_orderstatus")
    }),

    // q179 — CDF-driven INCREMENTAL AGGREGATE maintenance
    // (IncrementalAgg.deltaFromChanges ∘ Snapshots.changes — the
    // materialized-view refresh loop): a status rollup bootstraps
    // from v1, then refreshes per version by folding the change
    // feed's churn — an append and a merge — WITHOUT ever re-reading
    // the base table (the feed opens only churned files; the fold
    // touches |agg| + |delta|). incremental_exact pins the
    // maintained rollup row-identical to a from-scratch recompute of
    // the final version (cents-integer sums make the comparison
    // exact); values replay that final rollup.
    "q179_cdf_incremental_agg" -> ((s, dir) => {
      val cents = (round(col("o_totalprice") * lit(100.0))).cast("long")
      def prep(df: org.apache.spark.sql.DataFrame) = df
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents.as("price_cents"))
      val o = prep(Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice"))
      val root = java.nio.file.Files.createTempDirectory("graft_q179").toString
      val v1 = Snapshots.commitWithStats(s,
        o.repartitionByRange(12, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      val dims = Seq("o_orderstatus"); val vals = Seq("price_cents")
      var agg = IncrementalAgg.recompute(
        Snapshots.read(s, root, Some(v1)), dims, vals).localCheckpoint()
      Snapshots.append(s,
        o.filter(col("o_orderkey") % 5 === 0)
          .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
            lit("A").as("o_orderstatus"), col("price_cents")),
        root, Seq("o_orderkey"))
      val upd = o.filter(col("o_orderkey") <= 300L)
        .withColumn("price_cents", col("price_cents") + lit(10000L))
      val r = Snapshots.merge(s, upd, root, "o_orderkey", Seq("o_orderkey"))
      (v1 + 1).to(r.version).foreach { v =>
        agg = IncrementalAgg.applyDelta(agg,
          IncrementalAgg.deltaFromChanges(
            Snapshots.changes(s, root, v - 1, v).df, dims, vals),
          dims, vals).localCheckpoint()
      }
      val full = IncrementalAgg.recompute(Snapshots.read(s, root), dims, vals)
      val exact = sameMultiset(agg, full)
      agg.withColumn("incremental_exact", lit(exact))
        .orderBy("o_orderstatus")
    }),

    // q180 — CDF-driven DERIVED-STORE maintenance with FORGET
    // propagation (the lakehouse × curation composition: a per-doc
    // SimHash signature store — the dedup tier's serving state —
    // maintained from the documents table's change feed instead of
    // corpus rescans): the corpus takes an append (new crawl batch)
    // then a merge-on-read deleteWhere (the GDPR purge — zero file
    // rewrites); each version's feed drives the store — insert rows
    // carry their text, so signatures compute over CHURN ONLY, and
    // delete rows anti-join out of the store, which is how a
    // right-to-be-forgotten deletion actually PROPAGATES to derived
    // state at 100 TB (re-deriving the store per purge would dwarf
    // the purge). store_matches_rebuild pins the maintained store
    // row-identical to a from-scratch rebuild of the final corpus;
    // forget_propagated pins zero purged ids surviving in the store.
    // Values replay the final per-lang corpus counts.
    "q180_cdf_derived_store" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select("doc_id", "text", "lang", "source")
      val root = java.nio.file.Files.createTempDirectory("graft_q180").toString
      val v1 = Snapshots.commitWithStats(s,
        docs.filter(col("doc_id") % 4 =!= 3)
          .repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id"), root, Seq("doc_id"))
      Snapshots.append(s, docs.filter(col("doc_id") % 4 === 3),
        root, Seq("doc_id"))
      val r = Snapshots.deleteWhere(s, root, col("doc_id") % 7 === 2)
      def sigOf(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id"), graft.llm.Dedup.simhash(col("text")).as("sig"),
        col("lang"))
      var store = sigOf(Snapshots.read(s, root, Some(v1))).localCheckpoint()
      (v1 + 1).to(r.version).foreach { v =>
        val feed = Snapshots.changes(s, root, v - 1, v).df.localCheckpoint()
        store = store
          .join(feed.filter(col("_change_type") === "delete")
            .select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(sigOf(
            feed.filter(col("_change_type") === "insert")))
          .localCheckpoint()
      }
      val rebuilt = sigOf(Snapshots.read(s, root))
      val matches = sameMultiset(store, rebuilt)
      val forgotten = store.filter(col("doc_id") % 7 === 2).count() == 0L
      store.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("doc_id")).as("n_ids"))
        .withColumn("store_matches_rebuild", lit(matches))
        .withColumn("forget_propagated", lit(forgotten))
        .orderBy("lang")
    }),

    // q181 — SHALLOW CLONE (Snapshots.cloneShallow — Delta's zero-
    // copy table fork, the experimentation primitive a 100 TB corpus
    // needs): the clone's v1 is one manifest of ABSOLUTE references
    // into the source's files (no_copy pins zero data files of its
    // own), the source's stats index is reused verbatim so the clone
    // SKIPS FILES FROM BIRTH (clone_pruned pins a bounded pruned
    // read with zero index build), and a divergence merge rewrites
    // only its touched files into the CLONE's dirs while the source
    // stays bit-identical at version 1 (src_untouched). Values
    // replay the diverged clone state.
    "q181_shallow_clone" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val base = java.nio.file.Files.createTempDirectory("graft_q181").toString
      val src = s"$base/src"; val dst = s"$base/clone"
      Snapshots.commitWithStats(s,
        o.repartitionByRange(12, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), src, Seq("o_orderkey"))
      Snapshots.cloneShallow(s, src, dst)
      val noCopy = !new java.io.File(s"$dst/data").exists()
      val (pr, nRead, nTotal) = Snapshots.readPruned(
        s, dst, Some(1L), "o_orderkey", Some(lit(1L)), Some(lit(100L)))
      val clonePruned = nRead < nTotal && pr.count() ==
        o.filter(col("o_orderkey").between(1L, 100L)).count()
      val r = Snapshots.merge(s,
        o.filter(col("o_orderkey") <= 300L)
          .withColumn("o_totalprice", col("o_totalprice") + lit(500.0)),
        dst, "o_orderkey", Seq("o_orderkey"))
      val srcRead = Snapshots.read(s, src)
      val srcUntouched = Snapshots.versions(s, src) == Seq(1L) &&
        sameMultiset(srcRead, o)
      Snapshots.read(s, dst)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("no_copy", lit(noCopy))
        .withColumn("clone_pruned", lit(clonePruned))
        .withColumn("src_untouched", lit(srcUntouched))
        .withColumn("rewrite_bounded", lit(r.filesRewritten < r.filesTotal))
        .orderBy("o_orderstatus")
    }),

    // q182 — BRONZE→SILVER incremental table pipeline (the medallion
    // step: Ingest.snapshotPipelineAvailableNow): bronze accretes 3
    // streaming-ingest versions plus a LATE batch append; the silver
    // table — a quantity-filtered projection — is maintained from
    // bronze's CHANGE FEED, each source version transformed over its
    // CHURN ONLY and appended with the SOURCE version as the
    // idempotency tag. The run splits across a checkpoint resume
    // (only the late commit flows) and a fresh-checkpoint rerun
    // (complete no-op via tags — versions_4 would break on a
    // duplicate). incremental_exact pins silver row-identical to the
    // transform applied to bronze's final state from scratch. Values
    // replay the transformed union.
    "q182_medallion_pipeline" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val base = java.nio.file.Files.createTempDirectory("graft_q182").toString
      graft.streaming.Ingest.stageOrderedParquet(s, Seq(
        li.filter(col("l_orderkey") <= 500L),
        li.filter(col("l_orderkey") > 500L && col("l_orderkey") <= 1000L),
        li.filter(col("l_orderkey") > 1000L)), s"$base/staging")
      graft.streaming.Ingest.snapshotIngestAvailableNow(s, s"$base/staging",
        s"$base/chkA", s"$base/bronze", Seq("l_orderkey"), li.schema.toDDL,
        maxFilesPerTrigger = Some(1))
      val xform = (df: org.apache.spark.sql.DataFrame) =>
        df.filter(col("l_quantity") > 25.0)
          .select("l_orderkey", "l_returnflag", "l_quantity",
            "l_extendedprice")
      graft.streaming.Ingest.snapshotPipelineAvailableNow(s, s"$base/bronze",
        s"$base/chkB", s"$base/silver", Seq("l_orderkey"), xform,
        maxFilesPerTrigger = Some(1))
      val late = li.filter(col("l_orderkey") % 13 === 0)
        .select((col("l_orderkey") + 900000000L).as("l_orderkey"),
          col("l_shipdate"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
      Snapshots.append(s, late, s"$base/bronze", Seq("l_orderkey"))
      // checkpoint RESUME: only the late bronze commit flows
      graft.streaming.Ingest.snapshotPipelineAvailableNow(s, s"$base/bronze",
        s"$base/chkB", s"$base/silver", Seq("l_orderkey"), xform)
      // fresh-checkpoint rerun: tags make it a complete no-op
      graft.streaming.Ingest.snapshotPipelineAvailableNow(s, s"$base/bronze",
        s"$base/chkB2", s"$base/silver", Seq("l_orderkey"), xform)
      val silver = Snapshots.read(s, s"$base/silver")
      val fromScratch = xform(Snapshots.read(s, s"$base/bronze"))
      val exact = sameMultiset(silver, fromScratch)
      val v4 = Snapshots.versions(s, s"$base/silver") ==
        Seq(1L, 2L, 3L, 4L)
      silver.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("incremental_exact", lit(exact))
        .withColumn("versions_4", lit(v4))
        .orderBy("l_returnflag")
    }),

    // q183 — ROW LINEAGE audit column (Snapshots.readWithLineage —
    // Delta CDF's `_commit_version` attribution, METADATA-ONLY): each
    // row carries the version that introduced its file, derived from
    // the manifests alone (one metadata read per retained version,
    // broadcast to the scan — no history data opened). Appends keep
    // their ingest version forever (files carry by reference), and a
    // later merge-on-read delete composes: purged rows vanish while
    // the survivors' attribution is untouched. Values replay each
    // version's key slice minus the purge.
    "q183_file_lineage" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q183").toString
      Snapshots.commitWithStats(s,
        li.filter(col("l_orderkey") <= 500L)
          .repartitionByRange(4, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"), root, Seq("l_orderkey"))
      Snapshots.append(s, li.filter(
        col("l_orderkey") > 500L && col("l_orderkey") <= 1000L),
        root, Seq("l_orderkey"))
      Snapshots.append(s, li.filter(col("l_orderkey") > 1000L),
        root, Seq("l_orderkey"))
      Snapshots.deleteWhere(s, root, col("l_orderkey") % 10 === 7)
      Snapshots.readWithLineage(s, root)
        .groupBy("_commit_version", "l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .orderBy("_commit_version", "l_returnflag")
    }),

    // q184 — THE SNAPSHOT TIER AS A SQL TABLE FORMAT
    // (plans/ResolveSnapshotTable + plans/SnapshotFileIndex): a plain
    // SQL string reads `FROM snap.`<root>`` — the relation resolves
    // to the manifest-listed, stats-skipping, deletion-vector-aware
    // scan, so the user's OWN WHERE clause prunes files at PLANNING
    // time through the version's stats index (the TahoeFileIndex
    // seam: the planner asks the index for files, the index asks the
    // stats — no explicit readPruned call anywhere), while the bytes
    // still stream through the built-in vectorized parquet reader
    // under whole-stage codegen. The table takes an append and a
    // merge-on-read delete first, so SQL is proven against the full
    // lakehouse state: manifest version + deletion vector + stats.
    // files_pruned pins the planning-time skip (the range predicate
    // opens strictly fewer files than the manifest holds, and >0);
    // version_pinned pins SQL time travel (VERSION AS OF 1 still
    // counts the pre-append state). Values replay base+append−purge
    // under the same predicate.
    "q184_snapshot_sql" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q184").toString
      Snapshots.commitWithStats(s,
        li.filter(col("l_orderkey") <= 1000L)
          .repartitionByRange(6, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"), root, Seq("l_orderkey"))
      val v1N = li.filter(col("l_orderkey") <= 1000L).count()
      Snapshots.append(s, li.filter(col("l_orderkey") > 1000L),
        root, Seq("l_orderkey"))
      Snapshots.deleteWhere(s, root, col("l_orderkey") % 10 === 3)
      // SQL time travel through the version log
      val pinned = graft.plans.SnapshotSql.sql(s,
        s"SELECT count(*) AS n FROM snap.`$root` VERSION AS OF 1")
        .head().getLong(0) == v1N
      // the prune pin: same predicate through the index-exposed seam
      val (probe, idx) = Snapshots.sqlScan(s, root)
      probe.filter(col("l_orderkey").between(1L, 400L)).count()
      val (kept, total) = idx.lastScan.get
      graft.plans.SnapshotSql.sql(s,
        s"""SELECT l_returnflag, count(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           |FROM snap.`$root`
           |WHERE l_orderkey BETWEEN 1 AND 400
           |GROUP BY l_returnflag""".stripMargin)
        .withColumn("files_pruned", lit(kept < total && kept > 0))
        .withColumn("version_pinned", lit(pinned))
        .orderBy("l_returnflag")
    }),

    // q186 — BRONZE→SILVER→GOLD: the change feed COMPOSES
    // TRANSITIVELY (the full medallion). Bronze accretes batches;
    // silver — a quantity-filtered cents projection — is maintained
    // from BRONZE's version log by the streaming pipeline consumer
    // (q182's operator, source version = idempotency tag); GOLD — a
    // per-flag rollup — is maintained from SILVER'S OWN change feed
    // via the q179 fold. The key claim: silver is itself a DERIVED
    // table, yet its version log is a first-class feed — a late
    // bronze batch flows bronze→silver (churn-only transform) →gold
    // (churn-only fold) with NEITHER hop re-reading its source
    // table. gold_exact pins the maintained rollup ≡ from-scratch
    // recompute of final silver; silver_exact pins silver ≡
    // transform(final bronze); versions_3 pins one silver version
    // per bronze commit (exactly-once through the resume). Values
    // replay the gold rollup from the base table.
    "q186_medallion_gold" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
      val base = java.nio.file.Files.createTempDirectory("graft_q186").toString
      val bronze = s"$base/bronze"; val silver = s"$base/silver"
      val xform = (df: org.apache.spark.sql.DataFrame) =>
        df.filter(col("l_quantity") > 25.0)
          .select(col("l_orderkey"), col("l_returnflag"),
            round(col("l_extendedprice") * lit(100.0)).cast("long")
              .as("rev_cents"))
      Snapshots.commitWithStats(s,
        li.filter(col("l_orderkey") <= 1000L)
          .repartitionByRange(4, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"), bronze, Seq("l_orderkey"))
      Snapshots.append(s, li.filter(
        col("l_orderkey") > 1000L && col("l_orderkey") <= 2000L),
        bronze, Seq("l_orderkey"))
      graft.streaming.Ingest.snapshotPipelineAvailableNow(s, bronze,
        s"$base/chk", silver, Seq("l_orderkey"), xform,
        maxFilesPerTrigger = Some(1))
      val dims = Seq("l_returnflag"); val vals = Seq("rev_cents")
      var gold = IncrementalAgg.recompute(
        Snapshots.read(s, silver, Some(1L)), dims, vals).localCheckpoint()
      var folded = 1L
      def catchUp(): Unit = {
        val lv = Snapshots.latestVersion(s, silver).get
        (folded + 1).to(lv).foreach { v =>
          gold = IncrementalAgg.applyDelta(gold,
            IncrementalAgg.deltaFromChanges(
              Snapshots.changes(s, silver, v - 1, v).df, dims, vals),
            dims, vals).localCheckpoint()
        }
        folded = lv
      }
      catchUp()
      // the late bronze batch rides the WHOLE chain incrementally
      Snapshots.append(s, li.filter(col("l_orderkey") > 2000L),
        bronze, Seq("l_orderkey"))
      graft.streaming.Ingest.snapshotPipelineAvailableNow(s, bronze,
        s"$base/chk", silver, Seq("l_orderkey"), xform)
      catchUp()
      val silverDf = Snapshots.read(s, silver)
      val goldFull = IncrementalAgg.recompute(silverDf, dims, vals)
      val goldExact = sameMultiset(gold, goldFull)
      val fromBronze = xform(Snapshots.read(s, bronze))
      val silverExact = sameMultiset(silverDf, fromBronze)
      val v3 = Snapshots.versions(s, silver) == Seq(1L, 2L, 3L)
      gold
        .withColumn("gold_exact", lit(goldExact))
        .withColumn("silver_exact", lit(silverExact))
        .withColumn("versions_3", lit(v3))
        .orderBy("l_returnflag")
    }),

    // q189 — SQL DML over the snapshot tier (SnapshotSql INSERT /
    // DELETE routing): INSERT INTO snap.` ` SELECT — reading the
    // SNAPSHOT ITSELF as the source — lands as a copy-on-write
    // append (constraints + schema enforced, positional matching);
    // DELETE FROM ... WHERE lands as a merge-on-read deletion vector
    // — zero data files rewritten, the only affordable shape for a
    // scattered-predicate delete at 100 TB. insert_receipt /
    // delete_receipt pin the commit receipts (version + rows);
    // delete_zero_rewrite pins via the history that the delete
    // version is the SAME manifest carrying a vector. Values replay
    // base ∪ self-insert − delete under the final SQL read.
    "q189_snapshot_dml" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q189").toString
      Snapshots.commitWithStats(s,
        li.filter(col("l_orderkey") <= 1000L)
          .repartitionByRange(4, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"), root, Seq("l_orderkey"))
      val ins = SnapshotSql.sql(s,
        s"""INSERT INTO snap.`$root`
           |SELECT l_orderkey + 3000000, l_returnflag, l_quantity,
           |       l_extendedprice
           |FROM snap.`$root` WHERE l_orderkey % 3 = 0""".stripMargin)
        .head()
      val del = SnapshotSql.sql(s,
        s"DELETE FROM snap.`$root` WHERE l_orderkey % 10 = 3").head()
      val nBase = li.filter(col("l_orderkey") <= 1000L).count()
      val nIns = li.filter(
        col("l_orderkey") <= 1000L && col("l_orderkey") % 3 === 0).count()
      val insOk = ins.getLong(0) == 2L && ins.getLong(1) == nBase + nIns
      val delOk = del.getLong(0) == 3L && del.getLong(1) > 0L
      val h3 = Snapshots.history(s, root).filter(col("version") === 3L)
        .select("layout", "has_dv").head()
      val zeroRewrite = h3.getString(0) == "manifest" && h3.getBoolean(1)
      SnapshotSql.sql(s,
        s"""SELECT l_returnflag, count(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           |FROM snap.`$root` GROUP BY l_returnflag""".stripMargin)
        .withColumn("insert_receipt", lit(insOk))
        .withColumn("delete_receipt", lit(delOk))
        .withColumn("delete_zero_rewrite", lit(zeroRewrite))
        .orderBy("l_returnflag")
    }),

    // q190 — SELECTIVE OPTIMIZE (the round-11 scale-killer fix):
    // compaction targets the SMALL-FILE TAIL from listing metadata
    // (one RPC per parent dir), rewrites ONLY it, and carries every
    // full-size file into the new version BY REFERENCE through the
    // manifest — O(small-file debt), never O(table). The scenario is
    // the daily shape: a 2-file full-size base accretes 4 tiny
    // append files; OPTIMIZE must rewrite exactly the 4 (+1 fresh
    // out), keep the 2 big files byte-identical BY PATH, preserve
    // the data bit-for-bit, reuse the carried stats rows (the pruned
    // read still bites), and a second OPTIMIZE with no new debt must
    // publish NOTHING. Values replay base ∪ appends from the table.
    "q190_selective_optimize" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q190").toString
      Snapshots.commitWithStats(s,
        li.repartitionByRange(2, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"), root, Seq("l_orderkey"))
      (1 to 4).foreach { b =>
        Snapshots.append(s,
          li.filter(col("l_orderkey") === 1L)
            .withColumn("l_orderkey", col("l_orderkey") + lit(b * 10000000L)),
          root, Seq("l_orderkey"))
      }
      val beforeFiles = Snapshots.filesOfVersion(s, root, 5L).toSet
      // the debt is MEASURED, not assumed: the number of appended
      // small files varies with scan parallelism (an append's write
      // can emit a task-split empty sibling), and the contract is
      // "rewritten == exactly the under-threshold tail, big files
      // carried by reference" regardless of how the tail was laid
      val smallCount = beforeFiles.count { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen < 32L * 1024
      }
      val before = Snapshots.read(s, root)
      val r = Snapshots.optimize(s, root, targetBytes = 32L * 1024,
        statsCols = Seq("l_orderkey"))
      val afterFiles = Snapshots.filesOfVersion(s, root, r.version).toSet
      val after = Snapshots.read(s, root, Some(r.version))
      val selective = smallCount >= 4 && r.filesRewritten == smallCount &&
        r.filesTotal == beforeFiles.size
      val carried = beforeFiles.intersect(afterFiles).size ==
        beforeFiles.size - smallCount && smallCount < beforeFiles.size
      val identical = sameMultiset(before, after)
      val r2 = Snapshots.optimize(s, root, targetBytes = 32L * 1024)
      val noop = r2.version == r.version && r2.filesRewritten == 0
      val (_, nRead, nTotal) = Snapshots.readPruned(
        s, root, Some(r.version), "l_orderkey",
        Some(lit(1L)), Some(lit(1000L)))
      after.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("rewrite_selective", lit(selective))
        .withColumn("big_files_carried", lit(carried))
        .withColumn("data_identical", lit(identical))
        .withColumn("second_optimize_noop", lit(noop))
        .withColumn("stats_survive", lit(nRead > 0 && nRead < nTotal))
        .orderBy("l_returnflag")
    }),

    // q196 — PARTITION RELOAD (SQL `INSERT OVERWRITE ... PARTITION
    // (k='v')` → Snapshots.replacePartition): the "reload today's
    // partition" operation as ONE atomic commit — every OTHER
    // partition's files carry by reference (others_carried_by_path),
    // the replaced partition's files are DROPPED without being
    // opened, and on this cleanly partitioned table the receipt pins
    // files_rewritten == 0: zero pre-existing bytes read
    // (zero_pre_existing_reads) — the only affordable daily-reload
    // shape at 100 TB. Values replay non-F ∪ reloaded-F in DuckDB.
    "q196_partition_reload" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q196").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(4, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        root, Seq("o_orderkey"), partitionBy = Seq("o_orderstatus"))
      val beforeOther = Snapshots.filesOfVersion(s, root, 1L)
        .filterNot(_.contains("__p_o_orderstatus=F")).toSet
      val rec = SnapshotSql.sql(s,
        s"""INSERT OVERWRITE snap.`$root` PARTITION (o_orderstatus = 'F')
           |SELECT o_orderkey + 5000000, o_totalprice + 50.0
           |FROM snap.`$root` WHERE o_orderstatus = 'F'""".stripMargin).head()
      val zeroReads = rec.getInt(1) == 0
      val after = Snapshots.filesOfVersion(s, root, rec.getLong(0)).toSet
      val carried = beforeOther.subsetOf(after)
      val receiptOk = rec.getLong(0) == 2L &&
        rec.getLong(3) == o.filter(col("o_orderstatus") === "F").count()
      Snapshots.read(s, root).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("zero_pre_existing_reads", lit(zeroReads))
        .withColumn("others_carried_by_path", lit(carried))
        .withColumn("reload_receipt", lit(receiptOk))
        .orderBy("o_orderstatus")
    }),

    // q197 — BUCKETED SNAPSHOT TABLES ([[Snapshots.Bucketing]] in the
    // version log → the SQL scan's real BucketSpec): both sides of
    // the star join commit bucketed on their join key, so the SQL
    // join AND the bucket-key aggregation plan with ZERO shuffle
    // exchanges — the at-scale contract for repeated large-large
    // joins (a 100 TB fact table re-shuffles on every query, or
    // never; bucketing is "never"). Flags pin the shuffle-free join
    // plan, the shuffle-free aggregation plan, and that every file
    // of the APPENDED version still carries its bucket tag (the
    // layout is a table property, inherited by every later writer).
    // The appended batch's keys are offset beyond the dim's range,
    // so values replay the plain join in DuckDB unchanged.
    "q197_bucketed_snapshot" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      import graft.etl.Snapshots.Bucketing
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
      val base = java.nio.file.Files.createTempDirectory("graft_q197").toString
      val oRoot = s"$base/orders"; val cRoot = s"$base/customer"
      Snapshots.commit(s, o, oRoot,
        bucketBy = Some(Bucketing(8, Seq("o_custkey"), Seq("o_custkey"))))
      Snapshots.commit(s, c, cRoot,
        bucketBy = Some(Bucketing(8, Seq("c_custkey"), Seq("c_custkey"))))
      val v2 = Snapshots.append(s,
        o.filter(col("o_orderkey") % 11 === 0)
          .withColumn("o_custkey", col("o_custkey") + 10000000L), oRoot)
      val TagRe = """.*_(\d+)\..*""".r
      val tagged = Snapshots.filesOfVersion(s, oRoot, v2).forall(f =>
        TagRe.findFirstIn(new org.apache.hadoop.fs.Path(f).getName).nonEmpty)
      val joinSql =
        s"""SELECT c_mktsegment, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
           |FROM snap.`$oRoot` o JOIN snap.`$cRoot` c
           |ON o.o_custkey = c.c_custkey
           |GROUP BY c_mktsegment""".stripMargin
      // plan pins probe with broadcast off so the shuffle question is
      // real (a broadcast join would dodge it, not answer it). The
      // join pin is on the JOIN-ONLY plan: neither table shuffles to
      // meet the other (the final mktsegment roll-up above it still
      // exchanges its grouped handful of rows — that is the point:
      // the 100 TB sides never move, only the aggregate does).
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (joinFree, aggFree) =
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val jp = SnapshotSql.sql(s,
            s"""SELECT o.o_custkey, c.c_mktsegment, o.o_totalprice
               |FROM snap.`$oRoot` o JOIN snap.`$cRoot` c
               |ON o.o_custkey = c.c_custkey""".stripMargin)
            .queryExecution.executedPlan.toString
          val ap = SnapshotSql.sql(s,
            s"SELECT o_custkey, count(*) AS n FROM snap.`$oRoot` GROUP BY o_custkey")
            .queryExecution.executedPlan.toString
          (!jp.contains("Exchange hashpartitioning") &&
            jp.contains("Bucketed: true"),
            !ap.contains("Exchange hashpartitioning"))
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      SnapshotSql.sql(s, joinSql)
        .withColumn("join_shuffle_free", lit(joinFree))
        .withColumn("agg_shuffle_free", lit(aggFree))
        .withColumn("append_keeps_tags", lit(tagged))
        .orderBy("c_mktsegment")
    }),

    // q198 — SQL MAINTENANCE VERBS (SnapshotSql's lexical routing —
    // the Delta parser-extension surface): the full table-keeping
    // lifecycle in plain SQL statements. Three small commits →
    // `OPTIMIZE` compacts the debt (receipt pins files_rewritten);
    // `DESCRIBE HISTORY` shows every version; `RESTORE ... TO
    // VERSION AS OF 2` is the metadata-only undo (receipt pins the
    // restored row count); `VACUUM ... RETAIN 2 VERSIONS` trims the
    // log while the restored state stays fully readable (the kept
    // rollback version pins its referenced files through reclaim).
    // Values replay the restored v2 state — the %3∈{0,1} slice —
    // in DuckDB.
    "q198_sql_maintenance" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q198").toString
      Snapshots.commit(s, o.filter(col("o_orderkey") % 3 === 0)
        .repartition(6), root)
      Snapshots.append(s, o.filter(col("o_orderkey") % 3 === 1)
        .repartition(5), root)
      Snapshots.append(s, o.filter(col("o_orderkey") % 3 === 2)
        .repartition(4), root)
      val opt = SnapshotSql.sql(s, s"OPTIMIZE snap.`$root`").head()
      val optimized = opt.getLong(0) == 4L && opt.getInt(1) > 0 &&
        Snapshots.read(s, root).count() == o.count()
      val hist = SnapshotSql.sql(s, s"DESCRIBE HISTORY snap.`$root`")
      val histOk = hist.count() == 4L &&
        hist.agg(sum("n_rows")).head().getLong(0) > 0L
      val expect2 = o.filter(col("o_orderkey") % 3 <= 1).count()
      val res = SnapshotSql.sql(s,
        s"RESTORE TABLE snap.`$root` TO VERSION AS OF 2").head()
      val restored = res.getLong(0) == 5L && res.getLong(2) == expect2
      val vac = SnapshotSql.sql(s,
        s"VACUUM snap.`$root` RETAIN 2 VERSIONS").head()
      val vacuumed = vac.getInt(0) == 2 && vac.getInt(1) == 3 &&
        Snapshots.versions(s, root) == Seq(4L, 5L) &&
        Snapshots.read(s, root).count() == expect2
      SnapshotSql.sql(s,
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
           |FROM snap.`$root` GROUP BY o_orderstatus""".stripMargin)
        .withColumn("optimize_receipt", lit(optimized))
        .withColumn("history_complete", lit(histOk))
        .withColumn("restore_receipt", lit(restored))
        .withColumn("vacuum_trims_keeps_data", lit(vacuumed))
        .orderBy("o_orderstatus")
    }),

    // q199 — METADATA-ONLY COLUMN MAPPING (Snapshots.renameColumn /
    // dropColumn behind SQL ALTER TABLE): renaming and dropping
    // columns on a 100 TB table is one tiny version publish — both
    // flags pin that the new versions reference the SAME files as
    // v1 (zero churn) — while every read path presents the logical
    // names, time travel keeps each version's own names, SQL INSERT
    // appends a logically-named batch into physically-named files,
    // and DELETE's predicate resolves the renamed column. Values
    // replay the post-rename lifecycle (append + delete) in DuckDB.
    "q199_column_mapping" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q199").toString
      Snapshots.commit(s, o, root)
      SnapshotSql.sql(s,
        s"ALTER TABLE snap.`$root` RENAME COLUMN o_totalprice TO price")
      val renameZero = Snapshots.filesOfVersion(s, root, 2L) ==
        Snapshots.filesOfVersion(s, root, 1L)
      SnapshotSql.sql(s, s"ALTER TABLE snap.`$root` DROP COLUMN o_orderstatus")
      val dropZero = Snapshots.filesOfVersion(s, root, 3L) ==
        Snapshots.filesOfVersion(s, root, 1L)
      val ttNames = SnapshotSql.sql(s,
        s"SELECT * FROM snap.`$root` VERSION AS OF 1").columns.toSeq ==
        Seq("o_orderkey", "o_orderstatus", "o_totalprice")
      val ins = SnapshotSql.sql(s,
        s"""INSERT INTO snap.`$root`
           |SELECT o_orderkey + 5000000, o_totalprice + 10.0
           |FROM snap.`$root` VERSION AS OF 1
           |WHERE o_orderkey % 7 = 0""".stripMargin).head()
      val appended = ins.getLong(0) == 4L
      val expDel = Snapshots.read(s, root)
        .filter(col("price") < 20000.0).count()
      val del = SnapshotSql.sql(s,
        s"DELETE FROM snap.`$root` WHERE price < 20000.0").head()
      val deleted = del.getLong(0) == 5L && del.getLong(1) == expDel
      SnapshotSql.sql(s,
        s"""SELECT o_orderkey % 10 AS k, count(*) AS n,
           |  CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
           |FROM snap.`$root` GROUP BY o_orderkey % 10""".stripMargin)
        .withColumn("rename_zero_churn", lit(renameZero))
        .withColumn("drop_zero_churn", lit(dropZero))
        .withColumn("time_travel_names", lit(ttNames))
        .withColumn("logical_insert", lit(appended))
        .withColumn("logical_delete", lit(deleted))
        .orderBy("k")
    }),

    // q200 — SQL METADATA VERBS: SHOW PARTITIONS (the partition
    // inventory from path metadata alone — no data opened), SHOW
    // TABLES IN (the catalog's pinned set), DESCRIBE CHANGES (the
    // change feed as a statement). Values are the partition
    // inventory itself; the flags pin the catalog listing and that
    // the change feed replays exactly the appended batch with zero
    // fabricated deletes.
    "q200_sql_metadata" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val base = java.nio.file.Files.createTempDirectory("graft_q200").toString
      val root = s"$base/t"; val cat = s"$base/cat"
      Snapshots.commit(s, o, root, partitionBy = Seq("o_orderstatus"))
      Snapshots.append(s, o.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 7000000L), root)
      graft.etl.Catalog.commit(s, cat,
        Map("orders" -> graft.etl.Catalog.Pin(root, 2L)))
      val st = SnapshotSql.sql(s, s"SHOW TABLES IN snap.`$cat`").collect()
      val tablesOk = st.length == 1 && st(0).getString(0) == "orders" &&
        st(0).getLong(2) == 2L
      val ch = SnapshotSql.sql(s, s"DESCRIBE CHANGES snap.`$root` FROM 1 TO 2")
      val chOk = ch.filter(col("_change_type") === "insert").count() ==
        o.filter(col("o_orderkey") % 5 === 0).count() &&
        ch.filter(col("_change_type") === "delete").count() == 0L
      SnapshotSql.sql(s, s"SHOW PARTITIONS snap.`$root`")
        .groupBy("o_orderstatus")
        .agg((min("n_files") > 0L).as("files_positive"))
        .withColumn("show_tables_ok", lit(tablesOk))
        .withColumn("changes_ok", lit(chOk))
        .orderBy("o_orderstatus")
    }),

    // q191 — SQL MERGE INTO (SnapshotSql → Snapshots.merge): the
    // reference's single sink semantic — `ON CONFLICT DO UPDATE`
    // upsert (REF main.py:50) — now complete in SQL. The statement
    // routes to the stats-targeted copy-on-write merge, so the
    // receipt's files_rewritten pins the scale contract per commit:
    // a key-localized update batch rewrites a bounded, nonzero
    // fraction of the 12-file clustered layout while every untouched
    // file carries by reference. Values replay the upsert
    // row-for-row in DuckDB (anti-join + union, the q168 oracle).
    "q191_snapshot_sql_merge" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q191").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(12, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      o.filter(col("o_orderkey") <= 300L)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .unionByName(o.filter(col("o_orderkey") % 1000 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("I").as("o_orderstatus"), col("o_totalprice")))
        .createOrReplaceTempView("q191_src")
      val rec = SnapshotSql.sql(s,
        s"""MERGE INTO snap.`$root` t USING q191_src u
           |ON t.o_orderkey = u.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
      val receiptOk = rec.getLong(0) == 2L && rec.getLong(3) > 0L
      val bounded = rec.getInt(1) > 0 && rec.getInt(1) < rec.getInt(2)
      SnapshotSql.sql(s,
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
           |FROM snap.`$root` GROUP BY o_orderstatus""".stripMargin)
        .withColumn("merge_receipt", lit(receiptOk))
        .withColumn("rewrite_bounded", lit(bounded))
        .withColumn("history_intact",
          lit(Snapshots.versions(s, root) == Seq(1L, 2L)))
        .orderBy("o_orderstatus")
    }),

    // q192 — SQL UPDATE (SnapshotSql → Snapshots.updateWhere): a
    // merge-on-read update — matched rows' OLD positions join the
    // deletion vector, their rewritten images land in ONE fresh dir,
    // and every pre-existing data file carries by reference
    // (zero_prior_rewrite pins old-files ⊆ new-files via the
    // manifest) — the only affordable shape for a scattered-
    // predicate update at 100 TB. Row count is unchanged
    // (rows_stable); the receipt pins the exact matched count.
    // Values replay the SET arithmetic in DuckDB.
    "q192_snapshot_sql_update" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q192").toString
      Snapshots.commitWithStats(s,
        li.repartitionByRange(6, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"), root, Seq("l_orderkey"))
      val beforeFiles = Snapshots.filesOfVersion(s, root, 1L).toSet
      val rec = SnapshotSql.sql(s,
        s"""UPDATE snap.`$root`
           |SET l_quantity = l_quantity + 5.0,
           |    l_extendedprice = l_extendedprice * 2.0
           |WHERE l_orderkey % 10 = 3""".stripMargin).head()
      val expect = li.filter(col("l_orderkey") % 10 === 3).count()
      val receiptOk = rec.getLong(0) == 2L && rec.getLong(1) == expect
      val afterFiles = Snapshots.filesOfVersion(s, root, 2L).toSet
      val zeroPrior = beforeFiles.subsetOf(afterFiles)
      val m2 = Snapshots.versionMeta(s, root, 2L)
      SnapshotSql.sql(s,
        s"""SELECT l_returnflag, count(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           |FROM snap.`$root` GROUP BY l_returnflag""".stripMargin)
        .withColumn("update_receipt", lit(receiptOk))
        .withColumn("zero_prior_rewrite", lit(zeroPrior))
        .withColumn("vector_carried", lit(m2.dv.isDefined))
        .withColumn("rows_stable", lit(m2.nRows == li.count()))
        .orderBy("l_returnflag")
    }),

    // q193 — PARTITIONED SNAPSHOT TABLE: the table format declares a
    // partition column in the log; data lands under `__p_k=v` dirs
    // while the files still carry every column (hybrid layout), so
    // explicit-file consumers (CDF, merge, clone) stay correct and
    // the planner gets FIRST-LINE partition pruning from path values
    // alone — before, and composing with, min/max stats skipping
    // (partition_pruned pins one of three status partitions kept;
    // stats_compose pins the orderkey range pruning files INSIDE the
    // surviving partition). Appends inherit the layout
    // (append_keeps_layout). Values replay the filtered aggregate.
    "q193_partitioned_snapshot" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q193").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(4, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        root, Seq("o_orderkey"), partitionBy = Seq("o_orderstatus"))
      val v2 = Snapshots.append(s,
        o.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 300000000L),
        root, Seq("o_orderkey"))
      val keepsLayout = Snapshots.filesOfVersion(s, root, v2)
        .diff(Snapshots.filesOfVersion(s, root, 1L))
        .forall(_.contains("__p_o_orderstatus="))
      val (df, idx) = Snapshots.sqlScan(s, root)
      df.filter(col("o_orderstatus") === "F" && col("o_orderkey") <= 3000L)
        .agg(count(lit(1))).head()
      val partKept = idx.lastPartitionKept.getOrElse(-1)
      val (kept, total) = idx.lastScan.getOrElse((-1, -1))
      Snapshots.read(s, root)
        .filter(col("o_orderkey") <= 3000L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("partition_pruned", lit(partKept > 0 && partKept < total))
        .withColumn("stats_compose", lit(kept > 0 && kept < partKept))
        .withColumn("append_keeps_layout", lit(keepsLayout))
        .orderBy("o_orderstatus")
    }),

    // q194 — CATALOG TRANSACTION HELPER (Catalog.writeAndPin — the
    // one-call form of q187's coordinated write): stage fact AND dim
    // commits in one closure, flip both pins atomically with
    // lost-update protection, MERGING over concurrent pins; a stage
    // that throws pins NOTHING (its table commits stay durable but
    // invisible — failed_stage_pins_nothing). vacuum_honors_pins
    // closes the retention loop: the table vacuum passes
    // Catalog.pinnedVersions as protectedVersions, so reclaiming to
    // keepLast=1 CANNOT break the catalog's historical reads.
    // Values replay the pinned-state star join.
    "q194_catalog_txn_helper" -> ((s, dir) => {
      import graft.etl.Catalog
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus")
      val base = java.nio.file.Files.createTempDirectory("graft_q194").toString
      val fact = s"$base/fact"; val dim = s"$base/dim"
      val cat = s"$base/cat"
      Snapshots.commitWithStats(s,
        li.filter(col("l_orderkey") <= 500L)
          .repartitionByRange(4, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"), fact, Seq("l_orderkey"))
      Snapshots.commitWithStats(s,
        o.filter(col("o_orderkey") <= 500L)
          .repartitionByRange(4, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), dim, Seq("o_orderkey"))
      Catalog.commit(s, cat, Map(
        "fact" -> Catalog.Pin(fact, 1L), "dim" -> Catalog.Pin(dim, 1L)))
      val cv = Catalog.writeAndPin(s, cat) {
        val fv = Snapshots.append(s,
          li.filter(col("l_orderkey") > 500L && col("l_orderkey") <= 1000L),
          fact, Seq("l_orderkey"))
        val dv = Snapshots.append(s,
          o.filter(col("o_orderkey") > 500L && col("o_orderkey") <= 1000L),
          dim, Seq("o_orderkey"))
        Map("fact" -> Catalog.Pin(fact, fv), "dim" -> Catalog.Pin(dim, dv))
      }
      val failed =
        try {
          Catalog.writeAndPin(s, cat) {
            Snapshots.append(s, li.filter(col("l_orderkey") === 1L)
              .withColumn("l_orderkey", lit(900000000L)),
              fact, Seq("l_orderkey"))
            throw new RuntimeException("stage fails AFTER a table commit")
          }
          false
        } catch { case _: RuntimeException => true }
      val pinsNow = Catalog.pins(s, cat)
      val flipped = cv == 2L && pinsNow == Map(
        "fact" -> Catalog.Pin(fact, 2L), "dim" -> Catalog.Pin(dim, 2L))
      // retention contract ENFORCED: keepLast=1 would drop v1/v2, but
      // the pinned set protects them — historical catalog reads live
      Snapshots.vacuum(s, fact, keepLast = 1, orphanGraceMs = 0,
        protectedVersions = Catalog.pinnedVersions(s, cat, fact))
      val histOk = Catalog.read(s, cat, "fact", Some(1L)).count() ==
        li.filter(col("l_orderkey") <= 500L).count()
      Catalog.read(s, cat, "fact")
        .join(Catalog.read(s, cat, "dim"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(count(lit(1)).as("n"),
          moneySum(col("l_quantity")).as("sum_qty"))
        .withColumn("txn_flipped", lit(flipped))
        .withColumn("failed_stage_pins_nothing", lit(failed))
        .withColumn("vacuum_honors_pins", lit(histOk))
        .orderBy("o_orderstatus", "l_returnflag")
    }),

    // q195 — TIMESTAMP-ADDRESSED change data feed
    // (Snapshots.changesAsOf): both bounds resolve through the
    // version log's commit-file mtimes (two directory listings, no
    // contents read) and the diff is the usual file-granular churn —
    // "what changed since yesterday 09:00" without the consumer
    // tracking version numbers. matches_version_addressed pins
    // ts-addressed ≡ version-addressed row-for-row;
    // empty_self_diff pins the degenerate bound; churn_bounded pins
    // the carried files never opening. Values replay the appended
    // batch.
    "q195_changes_by_timestamp" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q195").toString
      val v1 = Snapshots.commitWithStats(s,
        o.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      val t1 = new java.io.File(s"$root/_versions", f"v$v1%08d.json")
        .lastModified
      val v2 = Snapshots.append(s,
        o.filter(col("o_orderkey") % 5 === 0)
          .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
            lit("A").as("o_orderstatus"), col("o_totalprice")),
        root, Seq("o_orderkey"))
      val t2 = new java.io.File(s"$root/_versions", f"v$v2%08d.json")
        .lastModified
      val byTs = Snapshots.changesAsOf(s, root, t1, t2)
      val byV = Snapshots.changes(s, root, v1, v2)
      val same = sameMultiset(byTs.df, byV.df)
      val emptySelf = Snapshots.changesAsOf(s, root, t1, t1).df.count() == 0L
      byTs.df.groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("matches_version_addressed", lit(same))
        .withColumn("empty_self_diff", lit(emptySelf))
        .withColumn("churn_bounded",
          lit(byTs.filesRead < byTs.filesFrom + byTs.filesTo))
        .orderBy("_change_type", "o_orderstatus")
    }),

    // q188 — DESCRIBE HISTORY (Snapshots.history — the audit surface
    // every table format exposes, derived from the version files
    // ALONE: one tiny JSON read per retained version, no data
    // opened). The scenario walks the writer vocabulary — a stats
    // commit, a copy-on-write append, a merge-on-read delete, a
    // metadata-only rollback, an ADD CONSTRAINT — and the history
    // must report each version's layout kind, EXACT logical row
    // count (writers record n_rows at publish), vector presence, and
    // policy count. Values replay every n_rows from the base table.
    "q188_snapshot_history" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q188").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      Snapshots.append(s,
        o.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 200000000L),
        root, Seq("o_orderkey"))
      Snapshots.deleteWhere(s, root, col("o_orderkey") % 7 === 2)
      Snapshots.rollback(s, root, to = 1L)
      Snapshots.addConstraint(s, root, "status_known",
        "o_orderstatus IN ('F','O','P')")
      Snapshots.history(s, root)
        .select("version", "layout", "n_rows", "has_dv", "n_constraints")
        .orderBy("version")
    }),

    // q187 — CROSS-TABLE TRANSACTIONAL CATALOG (etl/Catalog — the
    // Nessie/lakeFS atomic-pin pattern over the snapshot logs): fact
    // and dim land as independent table commits, but readers resolve
    // BOTH through one catalog version whose single rename pins the
    // pair — the star-schema consistency single-table logs cannot
    // give. The scenario: a coordinated write appends fact AND dim
    // then publishes catalog v2; an in-flight fact-only append (its
    // dim rows not yet loaded) stays UNPINNED. consistent_join pins
    // zero orphan facts through the catalog read; raw_would_orphan
    // pins that the raw latest fact WOULD orphan against the pinned
    // dim (the danger the catalog removes); time_travel_ok pins the
    // v1 pair restoring state A with one fetch. Values replay the
    // pinned-state star join.
    "q187_catalog_txn" -> ((s, dir) => {
      import graft.etl.Catalog
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus")
      val base = java.nio.file.Files.createTempDirectory("graft_q187").toString
      val fact = s"$base/fact"; val dim = s"$base/dim"
      val cat = s"$base/cat"
      Snapshots.commitWithStats(s,
        li.filter(col("l_orderkey") <= 1000L)
          .repartitionByRange(4, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"), fact, Seq("l_orderkey"))
      Snapshots.commitWithStats(s,
        o.filter(col("o_orderkey") <= 1000L)
          .repartitionByRange(4, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), dim, Seq("o_orderkey"))
      Catalog.commit(s, cat, Map(
        "fact" -> Catalog.Pin(fact, 1L), "dim" -> Catalog.Pin(dim, 1L)))
      // the coordinated write: both tables, then ONE atomic pin flip
      Snapshots.append(s, li.filter(
        col("l_orderkey") > 1000L && col("l_orderkey") <= 2000L),
        fact, Seq("l_orderkey"))
      Snapshots.append(s, o.filter(
        col("o_orderkey") > 1000L && col("o_orderkey") <= 2000L),
        dim, Seq("o_orderkey"))
      Catalog.commit(s, cat, Map(
        "fact" -> Catalog.Pin(fact, 2L), "dim" -> Catalog.Pin(dim, 2L)),
        expectedLatest = Some(1L))
      // in-flight fact-only append: committed to the TABLE, unpinned
      Snapshots.append(s, li.filter(col("l_orderkey") > 2000L),
        fact, Seq("l_orderkey"))
      val cFact = Catalog.read(s, cat, "fact")
      val cDim = Catalog.read(s, cat, "dim")
      val consistent = cFact.join(cDim,
        col("l_orderkey") === col("o_orderkey"), "left_anti").count() == 0L
      val rawWouldOrphan = Snapshots.read(s, fact).join(cDim,
        col("l_orderkey") === col("o_orderkey"), "left_anti").count() > 0L
      val ttOk = Catalog.read(s, cat, "fact", Some(1L)).count() ==
        li.filter(col("l_orderkey") <= 1000L).count() &&
        Catalog.read(s, cat, "dim", Some(1L)).count() ==
          o.filter(col("o_orderkey") <= 1000L).count()
      cFact.join(cDim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("consistent_join", lit(consistent))
        .withColumn("raw_would_orphan", lit(rawWouldOrphan))
        .withColumn("time_travel_ok", lit(ttOk))
        .orderBy("l_returnflag", "o_orderstatus")
    }),

    // q150 — STREAMING spike alerting behind the oracle gate: the
    // exact-integer running-baseline fold (Stateful.spikeAlerts,
    // batch sibling of q93's trailing-window detector) computed by
    // the real Structured Streaming runtime across ≥3 genuine
    // micro-batches. spikeAlerts is ORDER-SENSITIVE (a reading's
    // baseline is every EARLIER reading of its key), so the staging
    // uses seq-range slices with ascending file mtimes
    // (Ingest.stageOrderedJson) — the file source then delivers
    // batches in seq order and the union of all batch outputs must
    // equal the one-shot ordered SQL replay, per reading, exactly
    // (integer state ⇒ one IEEE division per row, bit-stable).
    "q150_streaming_spikes" -> ((s, dir) => {
      val readings = Tables.events(s, dir)
        .filter(col("user_id") % 5 === 0)
        .select(col("user_id").as("key"), col("event_id").as("seq"),
          (col("event_id") * 7919L % 10000L).as("cents"))
      val base = java.nio.file.Files.createTempDirectory("graft_q150").toString
      val span = readings.agg(min("seq"), max("seq")).head()
      val (mn, mx) = (span.getLong(0), span.getLong(1))
      val cut1 = mn + (mx - mn) / 3
      val cut2 = mn + 2 * (mx - mn) / 3
      graft.streaming.Ingest.stageOrderedJson(s, Seq(
        readings.filter(col("seq") <= cut1),
        readings.filter(col("seq") > cut1 && col("seq") <= cut2),
        readings.filter(col("seq") > cut2)), s"$base/staging")
      graft.streaming.Ingest.spikeAlertsAvailableNow(s, s"$base/staging",
        s"$base/chk", s"$base/out", maxFilesPerTrigger = Some(1))
      s.read.parquet(s"$base/out")
        .select("key", "seq", "cents", "n_baseline", "baseline_mean_cents",
          "is_spike")
        .orderBy("key", "seq")
    }),

    // q83 — snapshot reconciliation (graft.etl.Reconcile.diff): one
    // full-outer key join classifies every order key across two
    // planted table versions (every 97th key absent from prev =
    // added; every 89th absent from cur = removed; every 7th price-
    // bumped = changed). Output aggregates per status with the exact
    // decimal sum of the price deltas.
    "q83_snapshot_diff" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val prev = o.filter(col("o_orderkey") % 97 =!= 0)
      val cur = o.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")))
      graft.etl.Reconcile.diff(prev, cur, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_totalprice"))
        .groupBy("diff_status")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice_cur") - col("o_totalprice_prev")).as("price_delta"))
        .orderBy("diff_status")
    }),

    // q85 — fuzzy entity resolution (graft.operators.FuzzyJoin):
    // every 50th part name, corrupted by dropping its first
    // character, is matched back against the catalog within edit
    // distance 1 via the trigram-blocked join (the oracle brute-
    // forces the same pairs). Best match per probe by (dist, name,
    // key) — deterministic under duplicate catalog names.
    "q85_fuzzy_match" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val part = Tables.part(s, dir).select("p_partkey", "p_name")
      val probes = part.filter(col("p_partkey") % 50 === 0)
        .select(col("p_partkey").as("probe_key"),
          expr("substring(p_name, 2)").as("probe_name"))
      val names = part
        .select(col("p_partkey").as("build_key"), col("p_name").as("build_name"))
      // best match picked at the DISTINCT-string level: the per-id
      // form would window over |dup(probe)|·|dup(build)| rows per
      // matched string pair (14M at sf1 — quadratic in the
      // duplication factor), when the winner is a pure function of
      // the string. One row per probe attaches it back. The old
      // per-id tie-break (dist, build_name, build_key) reduces to
      // (dist, build_name): build_key never reaches the output, it
      // only disambiguated duplicate-name rows that are identical
      // in every emitted column.
      val strBest = {
        val pairs = graft.operators.FuzzyJoin.joinStrings(
          probes, "probe_name", names, "build_name", maxDist = 1)
        val w = Window.partitionBy("probe_name")
          .orderBy(col("dist"), col("build_name"))
        pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select("probe_name", "build_name", "dist")
      }
      probes.join(strBest, Seq("probe_name"))
        .select(col("probe_key"), col("probe_name"),
          col("build_name").as("best_name"), col("dist").cast("long").as("dist"))
        .orderBy("probe_key")
    }),

    // q90 — end-to-end entity resolution: q85's trigram-blocked fuzzy
    // join produces the match edges, connected components folds them
    // into entity clusters (the composition a dedup pipeline actually
    // runs: block → match → cluster → canonical id). Probe nodes are
    // offset into a disjoint id space so the graph keeps probes and
    // catalog entries distinct; the cluster id is the minimum member
    // (always a catalog key — probes sit above the offset). The
    // oracle re-derives the same clusters with a recursive min-label
    // CTE over the brute-force edge set (q60 precedent).
    "q90_entity_clusters" -> ((s, dir) => {
      val part = Tables.part(s, dir).select("p_partkey", "p_name")
      val probes = part.filter(col("p_partkey") % 50 === 0)
        .select((col("p_partkey") + lit(10000000L)).as("probe_key"),
          expr("substring(p_name, 2)").as("probe_name"))
      val names = part
        .select(col("p_partkey").as("build_key"), col("p_name").as("build_name"))
      // cluster at the DISTINCT-string level: every id sharing a
      // string lands in its string's component, so the id-level edge
      // set (|dup|·|dup| rows per matched string pair — 14M at sf1)
      // collapses to one node per string, represented by its MIN id
      // (probe ids sit above the offset, so the min over reps in a
      // component is the min over all member ids = the cluster_id the
      // id-level run would emit), plus per-string multiplicities
      // that the final aggregate sums back.
      val pStat = probes.groupBy("probe_name")
        .agg(min("probe_key").as("p_rep"), count(lit(1)).as("p_cnt"))
      val bStat = names.groupBy("build_name")
        .agg(min("build_key").as("b_rep"), count(lit(1)).as("b_cnt"))
      val edges = graft.operators.FuzzyJoin.joinStrings(
          probes, "probe_name", names, "build_name", maxDist = 1)
        .join(pStat, Seq("probe_name")).join(bStat, Seq("build_name"))
        .select(col("p_rep").as("src"), col("b_rep").as("dst"))
      val nodeStats = pStat.select(col("p_rep").as("id"),
          col("p_cnt").as("members"), col("p_cnt").as("probes"))
        .unionByName(bStat.select(col("b_rep").as("id"),
          col("b_cnt").as("members"), lit(0L).as("probes")))
      graft.llm.Cluster.connectedComponents(edges, "src", "dst")
        .join(nodeStats, Seq("id"))
        .groupBy(col("component").cast("long").as("cluster_id"))
        .agg(sum("members").as("n_members"), sum("probes").as("n_probes"))
        .orderBy("cluster_id")
    }),

    // q201 — SQL CREATE TABLE AS SELECT (SnapshotSql's birth verb —
    // the one statement the q198 lifecycle lacked): a PARTITIONED +
    // CLUSTERED-INTO-BUCKETS table born in pure SQL, appended via
    // INSERT. Pins: the CTAS receipt (version 1, exact rows); SHOW
    // PARTITIONS sees every status from path metadata; the bucket
    // layout is REAL — the bucket-key aggregation plans with zero
    // exchanges over a `Bucketed: true` scan; and the INSERT's fresh
    // files inherit BOTH layouts (partition-pathed AND bucket-tagged
    // — a table property, not a write option). Values replay
    // base ∪ insert in DuckDB.
    "q201_sql_create_table" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      o.createOrReplaceTempView("q201_orders")
      val base = java.nio.file.Files.createTempDirectory("graft_q201").toString
      val root = s"$base/t"
      val rec = SnapshotSql.sql(s,
        s"""CREATE TABLE snap.`$root`
           |PARTITIONED BY (o_orderstatus)
           |CLUSTERED BY (o_custkey) SORTED BY (o_custkey) INTO 8 BUCKETS
           |AS SELECT * FROM q201_orders""".stripMargin).head()
      val created = rec.getLong(0) == 1L && rec.getLong(1) == o.count()
      val ins = SnapshotSql.sql(s,
        s"""INSERT INTO snap.`$root`
           |SELECT o_orderkey + 7000000, o_custkey + 10000000,
           |       o_orderstatus, o_totalprice + 5.0
           |FROM q201_orders WHERE o_orderkey % 9 = 0""".stripMargin).head()
      val fresh = Snapshots.filesOfVersion(s, root, 2L)
        .diff(Snapshots.filesOfVersion(s, root, 1L))
      val inherits = ins.getLong(0) == 2L && fresh.nonEmpty &&
        fresh.forall(f => f.contains("__p_o_orderstatus=") &&
          "_(\\d+)\\.".r.findFirstIn(
            new org.apache.hadoop.fs.Path(f).getName).nonEmpty)
      val nStatuses = o.select("o_orderstatus").distinct().count()
      val partsOk = SnapshotSql.sql(s,
        s"SHOW PARTITIONS snap.`$root`").count() == nStatuses
      val ap = SnapshotSql.sql(s,
        s"SELECT o_custkey, count(*) AS n FROM snap.`$root` GROUP BY o_custkey")
        .queryExecution.executedPlan.toString
      val bucketReal = ap.contains("Bucketed: true") &&
        !ap.contains("Exchange hashpartitioning")
      SnapshotSql.sql(s,
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
           |FROM snap.`$root` GROUP BY o_orderstatus""".stripMargin)
        .withColumn("ctas_receipt", lit(created))
        .withColumn("insert_inherits_layout", lit(inherits))
        .withColumn("partitions_from_paths", lit(partsOk))
        .withColumn("bucket_layout_real", lit(bucketReal))
        .orderBy("o_orderstatus")
    }),

    // q202 — SQL MERGE WITH CONDITIONAL CLAUSES (SnapshotSql →
    // Snapshots.mergeClauses): the reference's quarantine-reprocess
    // job (REF main.py:119 — re-validate, update the fixable rows,
    // drop the rest) is semantically a conditional merge-and-delete;
    // this statement form now exists. First clause wins per matched
    // row: cheap orders get the price bump, expensive ones DELETE;
    // unmatched source rows insert only where the condition admits.
    // The receipt pins the bounded rewrite (files_rewritten <
    // files_total — same stats targeting as the upsert) and the
    // EXACT per-action counts. Values replay the clause algebra
    // row-for-row in DuckDB.
    "q202_sql_merge_clauses" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q202").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(12, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      o.filter(col("o_orderkey") <= 400L)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          lit(10.0).as("o_totalprice"))
        .unionByName(o.filter(col("o_orderkey") % 500 === 0)
          .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("o_totalprice")))
        .createOrReplaceTempView("q202_src")
      val rec = SnapshotSql.sql(s,
        s"""MERGE INTO snap.`$root` t USING q202_src u
           |ON t.o_orderkey = u.o_orderkey
           |WHEN MATCHED AND t.o_totalprice < 100000.0
           |  THEN UPDATE SET o_totalprice = t.o_totalprice + u.o_totalprice
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED AND u.o_totalprice > 50000.0 THEN INSERT *""".stripMargin)
        .head()
      val matchedCheap = o.filter(col("o_orderkey") <= 400L &&
        col("o_totalprice") < 100000.0).count()
      val matchedRich = o.filter(col("o_orderkey") <= 400L &&
        col("o_totalprice") >= 100000.0).count()
      val insertable = o.filter(col("o_orderkey") % 500 === 0 &&
        col("o_totalprice") > 50000.0).count()
      val receiptOk = rec.getLong(0) == 2L &&
        rec.getLong(3) == matchedCheap && rec.getLong(4) == matchedRich &&
        rec.getLong(5) == insertable
      val bounded = rec.getInt(1) > 0 && rec.getInt(1) < rec.getInt(2)
      SnapshotSql.sql(s,
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
           |FROM snap.`$root` GROUP BY o_orderstatus""".stripMargin)
        .withColumn("clause_receipt", lit(receiptOk))
        .withColumn("rewrite_bounded", lit(bounded))
        .orderBy("o_orderstatus")
    }),

    // q203 — BUCKET-TARGETED MERGE (the bucket refinement inside the
    // merge file targeting): on a table bucketed on the merge key, an
    // update key's candidate files are NAMED by its bucket id —
    // pmod(hash(key), n) is both Spark's bucket function and the
    // layout's placement — so a merge whose keys hash to a few
    // buckets opens ONLY those buckets' files, however wide the
    // per-file [min,max] ranges are (a hash layout scrambles ranges,
    // so range targeting alone would rewrite everything; the flags
    // pin exactly that separation). Skew-proof at 100 TB: a hot-key
    // update batch touches its buckets, never the table. Values
    // replay the upsert in DuckDB.
    "q203_bucket_merge" -> ((s, dir) => {
      import graft.etl.Snapshots.Bucketing
      val c = Tables.customer(s, dir)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val root = java.nio.file.Files.createTempDirectory("graft_q203").toString
      Snapshots.commitWithStats(s, c, root, Seq("c_custkey"),
        bucketBy = Some(Bucketing(8, Seq("c_custkey"), Seq("c_custkey"))))
      // a FIXED key set (not a modulus) so the hit-bucket count stays
      // < n at every scale factor — the pin is scale-portable
      val updates = c.filter(col("c_custkey").isin(3L, 502L, 1001L))
        .withColumn("c_acctbal", col("c_acctbal") + lit(1000.0))
      val hitIds = updates
        .select(pmod(hash(col("c_custkey")), lit(8)).as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      val TagRe = ".*_(\\d+)\\.[^/]*$".r
      val hitFiles = Snapshots.filesOfVersion(s, root, 1L).count {
        case TagRe(t) => hitIds.contains(t.toInt)
        case _ => true
      }
      val r = Snapshots.merge(s, updates, root, "c_custkey",
        Seq("c_custkey"))
      val exact = r.filesRewritten == hitFiles
      val bounded = hitIds.size < 8 && r.filesRewritten < r.filesTotal
      Snapshots.read(s, root).groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          moneySum(col("c_acctbal")).as("bal_sum"))
        .withColumn("opens_hit_buckets_only", lit(exact))
        .withColumn("rewrite_bounded", lit(bounded))
        .orderBy("c_mktsegment")
    }),

    // q204 — INCREMENTAL RE-CLUSTER ("z-order the debt"): clusterBy
    // OPTIMIZE no longer forces a full rewrite — with clusterDebtOnly
    // the rewrite set is the small-file debt PLUS the minimal
    // key-range-overlapping full files (per-file min/max stats name
    // them), everything else publishes by reference. Micro-batch
    // accretion lands in a narrow key band, so a daily re-cluster of
    // a 100 TB table costs O(debt + its band), not a table rewrite.
    // Pins: rewrite ⊂ table and ⊇ the measured debt; carried files
    // byte-identical by path; data bit-identical; a second debt-only
    // pass publishes NOTHING; and skipping still bites on both a
    // far range and the re-clustered band. Values replay
    // base ∪ debt-batch in DuckDB.
    "q204_incremental_zorder" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q204").toString
      Snapshots.commitWithStats(s,
        li.repartitionByRange(4, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"), root, Seq("l_orderkey"))
      Snapshots.append(s,
        li.filter(col("l_orderkey") <= 500L).repartition(2),
        root, Seq("l_orderkey"))
      val beforeFiles = Snapshots.filesOfVersion(s, root, 2L).toSet
      // the engine's debt threshold in this mode is HALF the target
      // (convergence hysteresis) — measure with the same bound
      val smallCount = beforeFiles.count { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen < 16L * 1024
      }
      val before = Snapshots.read(s, root)
      val r = Snapshots.optimize(s, root, targetBytes = 32L * 1024,
        statsCols = Seq("l_orderkey"), clusterBy = Seq("l_orderkey"),
        clusterDebtOnly = true)
      val afterFiles = Snapshots.filesOfVersion(s, root, r.version).toSet
      val after = Snapshots.read(s, root, Some(r.version))
      val subset = r.filesRewritten < beforeFiles.size &&
        r.filesRewritten >= smallCount && smallCount >= 2
      val carried = beforeFiles.intersect(afterFiles).size ==
        beforeFiles.size - r.filesRewritten
      val identical = sameMultiset(before, after)
      val r2 = Snapshots.optimize(s, root, targetBytes = 32L * 1024,
        statsCols = Seq("l_orderkey"), clusterBy = Seq("l_orderkey"),
        clusterDebtOnly = true)
      val noop = r2.version == r.version && r2.filesRewritten == 0
      val (_, farRead, farTotal) = Snapshots.readPruned(s, root,
        Some(r.version), "l_orderkey",
        Some(lit(50000L)), Some(lit(51000L)))
      val (_, bandRead, _) = Snapshots.readPruned(s, root,
        Some(r.version), "l_orderkey", Some(lit(1L)), Some(lit(100L)))
      after.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .withColumn("rewrite_subset", lit(subset))
        .withColumn("carried_by_path", lit(carried))
        .withColumn("data_identical", lit(identical))
        .withColumn("second_pass_noop", lit(noop))
        .withColumn("skip_preserved",
          lit(farRead < farTotal && bandRead < farTotal))
        .orderBy("l_returnflag")
    }),

    // q205 — TABLE INTROSPECTION VERBS + column-list INSERT:
    // `DESCRIBE DETAIL` is the one-row operational summary (version,
    // exact logical rows, file count/bytes from listing metadata,
    // declared layouts, policy counts — what an operator checks
    // before sizing a job); `SHOW CREATE TABLE` emits an EXECUTABLE
    // re-creation script, and the strongest pin replays it against a
    // fresh root: schema, partition layout, bucket layout, and the
    // CHECK constraint all reproduce, and the recreated (initially
    // EMPTY) table immediately accepts INSERTs — including
    // `INSERT INTO t (a, b) SELECT ...` with SQL's unnamed-columns-
    // get-NULL rule. Values replay base ∪ the col-list batch.
    "q205_sql_table_detail" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      o.createOrReplaceTempView("q205_orders")
      val base = java.nio.file.Files.createTempDirectory("graft_q205").toString
      val root = s"$base/t"; val re = s"$base/re"
      SnapshotSql.sql(s,
        s"""CREATE TABLE snap.`$root`
           |PARTITIONED BY (o_orderstatus)
           |CLUSTERED BY (o_custkey) SORTED BY (o_custkey) INTO 8 BUCKETS
           |AS SELECT * FROM q205_orders""".stripMargin)
      SnapshotSql.sql(s,
        s"ALTER TABLE snap.`$root` ADD CONSTRAINT price_pos CHECK (o_totalprice > 0.0)")
      val det = SnapshotSql.sql(s, s"DESCRIBE DETAIL snap.`$root`").head()
      val detailOk = det.getLong(1) == 2L && det.getLong(2) == o.count() &&
        det.getInt(3) > 0 && det.getLong(4) > 0L &&
        det.getString(5) == "o_orderstatus" &&
        det.getString(6) == "o_custkey INTO 8 BUCKETS" &&
        det.getInt(7) == 1 && !det.getBoolean(8)
      val stmts = SnapshotSql.sql(s, s"SHOW CREATE TABLE snap.`$root`")
        .collect().map(_.getString(0))
      stmts.map(_.replace(s"snap.`$root`", s"snap.`$re`"))
        .foreach(st => SnapshotSql.sql(s, st))
      val mRe = Snapshots.versionMeta(s, re,
        Snapshots.latestVersion(s, re).get)
      val recreated = stmts.length == 2 &&
        Snapshots.tableSchema(s, re) == Snapshots.tableSchema(s, root) &&
        mRe.parts == Seq("o_orderstatus") &&
        mRe.bucket == Some(graft.etl.Snapshots.Bucketing(
          8, Seq("o_custkey"), Seq("o_custkey"))) &&
        mRe.constraints.map(_._1) == Seq("price_pos") &&
        Snapshots.read(s, re).count() == 0L
      SnapshotSql.sql(s, s"INSERT INTO snap.`$re` SELECT * FROM q205_orders")
      val ins = SnapshotSql.sql(s,
        s"""INSERT INTO snap.`$re` (o_orderkey, o_totalprice)
           |SELECT o_orderkey + 9000000, o_totalprice + 1.0
           |FROM q205_orders WHERE o_orderkey % 11 = 0""".stripMargin).head()
      // re's history: v1 CTAS, v2 replayed constraint, v3 full
      // INSERT, v4 the col-list INSERT
      val colListOk = ins.getLong(0) == 4L &&
        ins.getLong(1) == o.count() + o.filter(col("o_orderkey") % 11 === 0).count()
      SnapshotSql.sql(s,
        s"""SELECT coalesce(o_orderstatus, 'none') AS status, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
           |FROM snap.`$re` GROUP BY coalesce(o_orderstatus, 'none')""".stripMargin)
        .withColumn("detail_ok", lit(detailOk))
        .withColumn("show_create_reproduces", lit(recreated))
        .withColumn("col_list_insert_ok", lit(colListOk))
        .orderBy("status")
    }),

    // q206 — MERGE WHEN NOT MATCHED BY SOURCE + COLUMN-SUBSET SOURCE
    // (the dimension-sync statement, the reference's S8 quarantine
    // cleanup in its full form — REF README.md:119): the feed carries
    // only (key, price); matched rows take the feed's price and KEEP
    // their status (subset SET *), rows ABSENT from the feed expire
    // (conditional UPDATE over target columns) or DELETE. Honest
    // scale contract: the statement is O(table) by nature — the
    // receipt pins files_rewritten == files_total, no fake pruning.
    // Exact per-action counts; values replay the sync algebra in
    // DuckDB.
    "q206_sql_merge_not_matched_by_source" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q206").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      // the real feed shape: key + changed column only (no status)
      o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
        .createOrReplaceTempView("q206_src")
      val rec = SnapshotSql.sql(s,
        s"""MERGE INTO snap.`$root` t USING q206_src u
           |ON t.o_orderkey = u.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED BY SOURCE AND t.o_totalprice < 100000.0
           |  THEN UPDATE SET o_orderstatus = 'X'
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).head()
      val matchedN = o.filter(col("o_orderkey") % 3 === 0).count()
      val expiredN = o.filter(col("o_orderkey") % 3 =!= 0 &&
        col("o_totalprice") < 100000.0).count()
      val deletedN = o.filter(col("o_orderkey") % 3 =!= 0 &&
        col("o_totalprice") >= 100000.0).count()
      val receiptOk = rec.getLong(0) == 2L &&
        rec.getLong(3) == matchedN + expiredN &&
        rec.getLong(4) == deletedN && rec.getLong(5) == 0L
      val honest = rec.getInt(1) == rec.getInt(2) && rec.getInt(2) > 0
      SnapshotSql.sql(s,
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
           |FROM snap.`$root` GROUP BY o_orderstatus""".stripMargin)
        .withColumn("sync_receipt", lit(receiptOk))
        .withColumn("full_scan_honest", lit(honest))
        .orderBy("o_orderstatus")
    }),

    // q207 — SQL TABLE LIFECYCLE: CREATE refuses an existing table
    // (exclusive publish at exactly v1 — racing CREATEs can never
    // silently replace), CREATE OR REPLACE converges on re-run with
    // history intact (time travel to the original survives), DROP
    // TABLE tombstones (reads refuse loudly, pre-drop versions stay
    // readable), RESTORE undrops, and VACUUM on a dropped table
    // reclaims every data dir through the existing machinery. Values
    // replay the final (OR-REPLACE'd, restored) state in DuckDB.
    "q207_sql_table_lifecycle" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      o.createOrReplaceTempView("q207_orders")
      val base = java.nio.file.Files.createTempDirectory("graft_q207").toString
      val root = s"$base/t"; val scratch = s"$base/x"
      SnapshotSql.sql(s,
        s"CREATE TABLE snap.`$root` AS SELECT * FROM q207_orders")
      val createRefuses =
        try { SnapshotSql.sql(s,
          s"CREATE TABLE snap.`$root` AS SELECT * FROM q207_orders"); false }
        catch { case e: Exception =>
          e.getMessage.contains("already has committed versions") }
      (1 to 2).foreach { _ =>
        SnapshotSql.sql(s,
          s"""CREATE OR REPLACE TABLE snap.`$root`
             |AS SELECT * FROM q207_orders WHERE o_orderkey % 4 = 0""".stripMargin)
      }
      val subsetN = o.filter(col("o_orderkey") % 4 === 0).count()
      val converges = Snapshots.latestVersion(s, root).contains(3L) &&
        SnapshotSql.sql(s, s"SELECT count(*) AS n FROM snap.`$root`")
          .head().getLong(0) == subsetN &&
        SnapshotSql.sql(s,
          s"SELECT count(*) AS n FROM snap.`$root` VERSION AS OF 1")
          .head().getLong(0) == o.count()
      SnapshotSql.sql(s, s"DROP TABLE snap.`$root`")
      val dropRefuses =
        try { SnapshotSql.sql(s, s"SELECT * FROM snap.`$root`").collect(); false }
        catch { case e: Exception => e.getMessage.contains("DROPPED") }
      val preDropReadable = SnapshotSql.sql(s,
        s"SELECT count(*) AS n FROM snap.`$root` VERSION AS OF 3")
        .head().getLong(0) == subsetN
      SnapshotSql.sql(s, s"RESTORE snap.`$root` TO VERSION AS OF 3")
      // a second, sacrificial table proves physical reclaim: drop it
      // and vacuum to the tombstone — every data dir goes
      SnapshotSql.sql(s,
        s"CREATE TABLE snap.`$scratch` AS SELECT * FROM q207_orders")
      SnapshotSql.sql(s, s"DROP TABLE snap.`$scratch`")
      Snapshots.vacuum(s, scratch, keepLast = 1, orphanGraceMs = 0L)
      // physical-reclaim pin through the Hadoop FileSystem API (the
      // engine's own path layer): a java.io.File check would pass
      // VACUOUSLY on any non-local filesystem — "does not exist"
      // for the wrong reason
      val dataPath = new org.apache.hadoop.fs.Path(s"$scratch/data")
      val hfs = dataPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val reclaims = !hfs.exists(dataPath) ||
        hfs.listStatus(dataPath).forall(_.getPath.getName.startsWith("."))
      SnapshotSql.sql(s,
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
           |FROM snap.`$root` GROUP BY o_orderstatus""".stripMargin)
        .withColumn("create_refuses_existing", lit(createRefuses))
        .withColumn("or_replace_converges", lit(converges))
        .withColumn("drop_refuses_reads", lit(dropRefuses))
        .withColumn("predrops_readable", lit(preDropReadable))
        .withColumn("restore_undrops_vacuum_reclaims", lit(reclaims))
        .orderBy("o_orderstatus")
    }),

    // q208 — MERGE WHEN NOT MATCHED THEN INSERT (cols) VALUES (...):
    // the explicit column-list insert (the shape generated SQL tools
    // emit, Delta/ANSI MERGE grammar). The feed is a COLUMN SUBSET
    // (key + price); matched rows take a conditional SET, inserted
    // rows are BUILT from the VALUES expressions — key verbatim,
    // status a literal, price doubled — with nothing NULL-guessed.
    // The receipt pins exact per-action counts; values replay the
    // whole algebra in DuckDB.
    "q208_sql_merge_insert_values" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q208").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      // matched subset (every 5th key, a new price) + genuinely new
      // keys far beyond the table's range (every 7th, offset)
      o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .unionByName(o.filter(col("o_orderkey") % 7 === 0)
          .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
            col("o_totalprice")))
        .createOrReplaceTempView("q208_src")
      val rec = SnapshotSql.sql(s,
        s"""MERGE INTO snap.`$root` t USING q208_src u
           |ON t.o_orderkey = u.o_orderkey
           |WHEN MATCHED THEN UPDATE SET o_totalprice = u.o_totalprice + 1.0
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus,
           |  o_totalprice) VALUES (u.o_orderkey, 'I', u.o_totalprice * 2.0)"""
          .stripMargin).head()
      val matchedN = o.filter(col("o_orderkey") % 5 === 0).count()
      val insertedN = o.filter(col("o_orderkey") % 7 === 0).count()
      val receiptOk = rec.getLong(3) == matchedN && rec.getLong(4) == 0L &&
        rec.getLong(5) == insertedN
      SnapshotSql.sql(s,
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
           |FROM snap.`$root` GROUP BY o_orderstatus""".stripMargin)
        .withColumn("receipt_ok", lit(receiptOk))
        .orderBy("o_orderstatus")
    }),

    // q209 — TYPE-WIDENING EVOLUTION + RESTORE BY TIMESTAMP + VACUUM
    // DRY RUN: the table is born with an INT key; a MERGE WITH SCHEMA
    // EVOLUTION feed carries LONG keys (some beyond Int.MaxValue — a
    // value the pre-widening schema cannot represent, so the widening
    // is provably real, and DuckDB re-sums the keys to check it);
    // RESTORE ... TO TIMESTAMP AS OF resolves against pinned commit
    // mtimes (lands on the pre-widening version, then a version
    // restore returns to the evolved state); VACUUM ... DRY RUN
    // previews exactly the droppable version files and mutates
    // NOTHING. Values replay in DuckDB; the three booleans pin the
    // receipts.
    "q209_sql_widening_lifecycle" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey").cast("int").as("k"),
          col("o_orderstatus"), col("o_totalprice"))
      val root = java.nio.file.Files.createTempDirectory("graft_q209").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
        root, Seq("k"))
      val baseN = o.count()
      // the widening feed: matched updates (every 5th key) plus new
      // LONG keys past Int.MaxValue (every 7th, offset 3e9)
      o.filter(col("k") % 5 === 0)
        .select(col("k").cast("bigint").as("k"),
          (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
        .unionByName(o.filter(col("k") % 7 === 0)
          .select((col("k").cast("bigint") + lit(3000000000L)).as("k"),
            (col("o_totalprice") * lit(2.0)).as("o_totalprice")))
        .createOrReplaceTempView("q209_src")
      val mrec = SnapshotSql.sql(s,
        s"""MERGE WITH SCHEMA EVOLUTION INTO snap.`$root` t
           |USING q209_src u ON t.k = u.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
      val widened = Snapshots.read(s, root).schema("k").dataType ==
        org.apache.spark.sql.types.LongType &&
        mrec.getLong(3) == o.filter(col("k") % 5 === 0).count() &&
        mrec.getLong(5) == o.filter(col("k") % 7 === 0).count()
      // pin the commit clock (v1 two hours ago, v2 one hour ago) so
      // the timestamp restore deterministically lands pre-widening
      val hfs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val now = System.currentTimeMillis()
      (1 to 2).foreach { v =>
        hfs.setTimes(new org.apache.hadoop.fs.Path(
            s"$root/_versions/" + f"v$v%08d.json"),
          now - (3 - v) * 3600L * 1000L, -1)
      }
      val tz = s.conf.get("spark.sql.session.timeZone")
      val ts = java.time.Instant.ofEpochMilli(now - 90L * 60 * 1000)
        .atZone(java.time.ZoneId.of(tz))
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss"))
      val rrec = SnapshotSql.sql(s,
        s"RESTORE TABLE snap.`$root` TO TIMESTAMP AS OF '$ts'").head()
      val restoreOk = rrec.getLong(0) == 3L && rrec.getLong(1) == 1L &&
        rrec.getLong(2) == baseN
      // back to the evolved state for the final read
      SnapshotSql.sql(s, s"RESTORE snap.`$root` TO VERSION AS OF 2")
      val plan = SnapshotSql.sql(s,
        s"VACUUM snap.`$root` RETAIN 2 VERSIONS DRY RUN").collect()
      // keepLast=2 keeps v3+v4, whose layouts pin BOTH data layouts:
      // the preview names exactly the two droppable version files and
      // no data; and it deleted nothing
      val previewOk = plan.map(r => (r.getString(0), r.getString(1))).toSeq
        .sorted == Seq(("version", "_versions/v00000001.json"),
          ("version", "_versions/v00000002.json")) &&
        Snapshots.versions(s, root) == (1L to 4L)
      SnapshotSql.sql(s,
        s"""SELECT coalesce(o_orderstatus, 'none') AS status, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
           |  CAST(SUM(k) AS BIGINT) AS key_sum
           |FROM snap.`$root` GROUP BY o_orderstatus""".stripMargin)
        .withColumn("widened_to_long", lit(widened))
        .withColumn("restore_ts_ok", lit(restoreOk))
        .withColumn("dryrun_preview_ok", lit(previewOk))
        .orderBy("status")
    }),

    // q210 — EXPLICIT TYPE-WIDENING DDL (`ALTER TABLE ... ALTER
    // COLUMN k TYPE BIGINT`): the migration-ORDER statement q209's
    // implicit merge-widening cannot express — widen the logged
    // schema FIRST (metadata-only: the new version re-points the SAME
    // layout, zero bytes rewritten at any table size), THEN flip the
    // producer. A wide append lands keys past Int.MaxValue (provably
    // unrepresentable pre-widening); a narrow INT producer keeps
    // appending through the write-boundary up-cast. The booleans pin
    // the metadata-only claim, the idempotent same-type no-op, and
    // the lossy refusal; DuckDB re-sums the widened keys.
    "q210_sql_alter_widen" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey").cast("int").as("k"),
          col("o_orderstatus"), col("o_totalprice"))
      val root = java.nio.file.Files.createTempDirectory("graft_q210").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
        root, Seq("k"))
      val layout1 = Snapshots.versionMeta(s, root, 1L).layoutId
      val rec = SnapshotSql.sql(s,
        s"ALTER TABLE snap.`$root` ALTER COLUMN k TYPE BIGINT").head()
      val metadataOnly = rec.getLong(0) == 2L &&
        Snapshots.versionMeta(s, root, 2L).layoutId == layout1 &&
        Snapshots.read(s, root).schema("k").dataType ==
          org.apache.spark.sql.types.LongType
      // the WIDE producer: every 7th key re-lands past Int.MaxValue
      Snapshots.append(s, o.filter(col("k") % 7 === 0)
        .select((col("k").cast("bigint") + lit(3000000000L)).as("k"),
          lit("W").as("o_orderstatus"),
          (col("o_totalprice") * lit(2.0)).as("o_totalprice")), root)
      // the NARROW producer keeps working: an INT-keyed batch up-casts
      // at the write boundary (every 11th key re-lands offset, int-safe)
      Snapshots.append(s, o.filter(col("k") % 11 === 0)
        .select((col("k") + lit(1000000000)).as("k"),
          lit("N").as("o_orderstatus"), col("o_totalprice")), root)
      // same-type re-widening is an idempotent no-op: no new version
      val vBefore = Snapshots.versions(s, root).last
      SnapshotSql.sql(s, s"ALTER TABLE snap.`$root` ALTER COLUMN k TYPE BIGINT")
      val noopOk = Snapshots.versions(s, root).last == vBefore
      val lossyRefused = scala.util.Try(SnapshotSql.sql(s,
        s"ALTER TABLE snap.`$root` ALTER COLUMN o_totalprice TYPE INT"))
        .failed.toOption.exists(_.getMessage.contains("lossless"))
      SnapshotSql.sql(s,
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
           |  CAST(SUM(k) AS BIGINT) AS key_sum
           |FROM snap.`$root` GROUP BY o_orderstatus""".stripMargin)
        .withColumn("metadata_only", lit(metadataOnly))
        .withColumn("noop_idempotent", lit(noopOk))
        .withColumn("lossy_refused", lit(lossyRefused))
        .orderBy("o_orderstatus")
    }),

    // q211 — MERGE with SEVERAL conditional WHEN NOT MATCHED insert
    // clauses, first-match-wins (SQL MERGE's multi-insert rule; q208's
    // sibling): unmatched feed rows route by predicate — high-value
    // rows insert under clause 1 ('H', price verbatim), the rest fall
    // to clause 2 ('L', halved). The receipt's per-clause breakdown
    // column is pinned against independently computed route counts;
    // values replay the whole routing algebra in DuckDB.
    "q211_sql_merge_multi_insert" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q211").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, Seq("o_orderkey"))
      o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .unionByName(o.filter(col("o_orderkey") % 7 === 0)
          .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
            col("o_totalprice")))
        .createOrReplaceTempView("q211_src")
      val rec = SnapshotSql.sql(s,
        s"""MERGE INTO snap.`$root` t USING q211_src u
           |ON t.o_orderkey = u.o_orderkey
           |WHEN MATCHED THEN UPDATE SET o_totalprice = u.o_totalprice + 1.0
           |WHEN NOT MATCHED AND u.o_totalprice >= 150000.0 THEN INSERT
           |  (o_orderkey, o_orderstatus, o_totalprice)
           |  VALUES (u.o_orderkey, 'H', u.o_totalprice)
           |WHEN NOT MATCHED THEN INSERT
           |  (o_orderkey, o_orderstatus, o_totalprice)
           |  VALUES (u.o_orderkey, 'L', u.o_totalprice * 0.5)"""
          .stripMargin).head()
      val sevens = o.filter(col("o_orderkey") % 7 === 0)
      val nH = sevens.filter(col("o_totalprice") >= 150000.0).count()
      val nL = sevens.count() - nH
      val receiptOk = rec.getLong(3) ==
        o.filter(col("o_orderkey") % 5 === 0).count() &&
        rec.getLong(5) == nH + nL &&
        rec.getString(6) == s"$nH,$nL"
      SnapshotSql.sql(s,
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
           |FROM snap.`$root` GROUP BY o_orderstatus""".stripMargin)
        .withColumn("receipt_ok", lit(receiptOk))
        .orderBy("o_orderstatus")
    }),

    // q212 — STREAMING KEYED CHANGE-FEED APPLY (Ingest
    // .snapshotCdcApplyAvailableNow — Delta's readChangeFeed → MERGE
    // loop as one seam; q174's keyed sibling and q180's derived store
    // WITHOUT the harness loop): the source takes an append, a
    // row-level merge (updates + inserts), and a merge-on-read purge;
    // the consumer tails the version log with checkpointed progress
    // and applies each micro-batch's KEYED net changes (one diff over
    // its span of source versions) to the derived table in one commit
    // tagged with the span's last version — postimages/inserts
    // upsert, deletes delete, churn-only. The run splits across a
    // checkpoint RESUME (only the late commits flow, as one span) plus
    // a fresh-checkpoint rerun that applies NOTHING (tag-skipped
    // replay — replay_noop would break on a double-apply). The first
    // run reads one version per micro-batch, so it commits once per
    // version. derived_equals_source pins the
    // maintained table row-identical to the source's final state;
    // values replay the full mutation algebra in DuckDB.
    "q212_streaming_cdc_apply" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val base = java.nio.file.Files.createTempDirectory("graft_q212").toString
      val src = s"$base/src"; val dst = s"$base/dst"
      Snapshots.commitWithStats(s,
        o.filter(col("o_orderkey") <= 20000L)
          .repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), src, Seq("o_orderkey"))
      Snapshots.append(s, o.filter(
        col("o_orderkey") > 20000L && col("o_orderkey") <= 40000L),
        src, Seq("o_orderkey"))
      // first consumer run: bootstrap (v1) + incremental apply (v2)
      graft.streaming.Ingest.snapshotCdcApplyAvailableNow(s, src,
        s"$base/chk", dst, "o_orderkey", Seq("o_orderkey"),
        maxFilesPerTrigger = Some(1))
      val resumeBase = Snapshots.versions(s, dst) == Seq(1L, 2L)
      val baseRows = o.filter(col("o_orderkey") <= 40000L)
      // v3: row-level merge — every 5th key re-prices, every 7th key
      // inserts offset under status 'Z'
      Snapshots.merge(s,
        baseRows.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
          .unionByName(baseRows.filter(col("o_orderkey") % 7 === 0)
            .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
              lit("Z").as("o_orderstatus"),
              (col("o_totalprice") * lit(2.0)).as("o_totalprice"))),
        src, "o_orderkey", Seq("o_orderkey"))
      // v4: merge-on-read purge (zero file rewrites on the source)
      Snapshots.deleteWhere(s, src, col("o_orderkey") % 10 === 3)
      // checkpoint RESUME: exactly the two late commits apply, as one
      // destination commit tagged 4 (one commit per micro-batch)
      graft.streaming.Ingest.snapshotCdcApplyAvailableNow(s, src,
        s"$base/chk", dst, "o_orderkey", Seq("o_orderkey"))
      val resumed = resumeBase && Snapshots.versions(s, dst) == (1L to 3L) &&
        Snapshots.lastTag(s, dst).contains(4L)
      // fresh-checkpoint rerun: all versions re-deliver, all skip
      graft.streaming.Ingest.snapshotCdcApplyAvailableNow(s, src,
        s"$base/chk2", dst, "o_orderkey", Seq("o_orderkey"))
      val noDouble = Snapshots.versions(s, dst) == (1L to 3L)
      val srcF = Snapshots.read(s, src); val dstF = Snapshots.read(s, dst)
      val equiv = sameMultiset(srcF, dstF)
      dstF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("derived_equals_source", lit(equiv))
        .withColumn("resume_incremental", lit(resumed))
        .withColumn("replay_noop", lit(noDouble))
        .orderBy("o_orderstatus")
    }),

    // q213 — DYNAMIC PARTITION OVERWRITE + IF NOT EXISTS (Spark's
    // `partitionOverwriteMode=dynamic` / Hive's `INSERT OVERWRITE ...
    // PARTITION (k)` and `... IF NOT EXISTS`; q196's dynamic sibling):
    // one statement replaces exactly the partition tuples PRESENT in
    // its SELECT (F and P re-shift; O never mentioned, so its files
    // carry by path — zero pre-existing bytes read, files_rewritten
    // pinned 0); then `IF NOT EXISTS` on the live F partition SKIPS
    // as a committed no-op (version unchanged), and on the absent Z
    // partition proceeds. Values replay the whole reload algebra in
    // DuckDB.
    "q213_sql_dynamic_partition_overwrite" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("graft_q213").toString
      Snapshots.commitWithStats(s,
        o.repartitionByRange(4, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        root, Seq("o_orderkey"), partitionBy = Seq("o_orderstatus"))
      val beforeO = Snapshots.filesOfVersion(s, root, 1L)
        .filter(_.contains("__p_o_orderstatus=O")).toSet
      // dynamic: the replaced set {F, P} derives from the data
      val rec1 = SnapshotSql.sql(s,
        s"""INSERT OVERWRITE snap.`$root` PARTITION (o_orderstatus)
           |SELECT o_orderkey + 5000000, o_totalprice + 50.0, o_orderstatus
           |FROM snap.`$root` WHERE o_orderstatus IN ('F', 'P')"""
          .stripMargin).head()
      val nFP = o.filter(col("o_orderstatus").isin("F", "P")).count()
      val dynOk = rec1.getLong(0) == 2L && rec1.getInt(1) == 0 &&
        rec1.getLong(3) == nFP
      val carried = beforeO.subsetOf(
        Snapshots.filesOfVersion(s, root, 2L).toSet)
      // IF NOT EXISTS against the LIVE F partition: committed no-op
      val rec2 = SnapshotSql.sql(s,
        s"""INSERT OVERWRITE snap.`$root` PARTITION (o_orderstatus = 'F')
           |IF NOT EXISTS
           |SELECT o_orderkey + 7000000, o_totalprice
           |FROM snap.`$root` WHERE o_orderstatus = 'O'""".stripMargin).head()
      val skipped = rec2.getLong(0) == 2L && rec2.getLong(3) == 0L &&
        Snapshots.latestVersion(s, root).contains(2L)
      // ... and against the ABSENT Z partition: the insert proceeds
      val rec3 = SnapshotSql.sql(s,
        s"""INSERT OVERWRITE snap.`$root` PARTITION (o_orderstatus = 'Z')
           |IF NOT EXISTS
           |SELECT o_orderkey + 9000000, o_totalprice
           |FROM snap.`$root` WHERE o_orderstatus = 'O'""".stripMargin).head()
      val nO = o.filter(col("o_orderstatus") === "O").count()
      val inserted = rec3.getLong(0) == 3L && rec3.getLong(3) == nO
      Snapshots.read(s, root).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("dynamic_receipt", lit(dynOk))
        .withColumn("others_carried_by_path", lit(carried))
        .withColumn("ifnotexists_skipped", lit(skipped))
        .withColumn("ifnotexists_inserted", lit(inserted))
        .orderBy("o_orderstatus")
    }),

    // q214 — COPY INTO (Databricks' idempotent batch file load; the
    // batch-SQL sibling of the q137 streaming ingest): a staged
    // folder loads ONCE — the replay skips every file (ledger
    // protocol: the commit's meta references the ledger, so a ledger
    // counts iff its commit published); a second folder loads
    // incrementally; and after VACUUM truncates the first COPY's
    // commit out of the log, its ledger persists in the k- registry,
    // so the replay STILL loads nothing — loaded-file state outlives
    // the commit that recorded it, exactly as the table still carries
    // those rows. Values replay the cumulative load in DuckDB.
    "q214_sql_copy_into" -> ((s, dir) => {
      import graft.plans.SnapshotSql
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val base = java.nio.file.Files.createTempDirectory("graft_q214").toString
      val root = s"$base/t"; val stage1 = s"$base/in1"; val stage2 = s"$base/in2"
      Snapshots.commitWithStats(s, o.filter(col("o_orderkey") <= 20000L),
        root, Seq("o_orderkey"))
      o.filter(col("o_orderkey") > 20000L && col("o_orderkey") <= 40000L)
        .repartition(4).write.parquet(stage1)
      o.filter(col("o_orderkey") > 40000L && col("o_orderkey") <= 50000L)
        .repartition(2).write.parquet(stage2)
      def nFiles(d: String) = new java.io.File(d).listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      val (c1, c2) = (nFiles(stage1), nFiles(stage2))
      val n1 = o.filter(col("o_orderkey") > 20000L &&
        col("o_orderkey") <= 40000L).count()
      val n2 = o.filter(col("o_orderkey") > 40000L &&
        col("o_orderkey") <= 50000L).count()
      val r1 = SnapshotSql.sql(s,
        s"COPY INTO snap.`$root` FROM '$stage1' FILEFORMAT = PARQUET").head()
      val firstOk = r1.getLong(0) == 2L && r1.getInt(1) == c1 &&
        r1.getLong(3) == n1
      val r2 = SnapshotSql.sql(s,
        s"COPY INTO snap.`$root` FROM '$stage1' FILEFORMAT = PARQUET").head()
      val replayNoop = r2.getInt(1) == 0 && r2.getInt(2) == c1 &&
        r2.getLong(3) == 0L && Snapshots.latestVersion(s, root).contains(2L)
      val r3 = SnapshotSql.sql(s,
        s"COPY INTO snap.`$root` FROM '$stage2' FILEFORMAT = PARQUET").head()
      val incrOk = r3.getLong(0) == 3L && r3.getInt(1) == c2 &&
        r3.getLong(3) == n2
      Snapshots.vacuum(s, root, keepLast = 1, orphanGraceMs = 0L)
      val r4 = SnapshotSql.sql(s,
        s"COPY INTO snap.`$root` FROM '$stage1' FILEFORMAT = PARQUET").head()
      val survives = r4.getInt(1) == 0 && r4.getInt(2) == c1
      Snapshots.read(s, root).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("price_sum"))
        .withColumn("first_copy_ok", lit(firstOk))
        .withColumn("replay_noop", lit(replayNoop))
        .withColumn("incremental_ok", lit(incrOk))
        .withColumn("survives_truncation", lit(survives))
        .orderBy("o_orderstatus")
    }))

  private def f5(s: org.apache.spark.sql.SparkSession, dir: String, clean: Boolean) = {
    val li = Tables.lineitem(s, dir)
      .withColumn("items", nullif(col("l_returnflag"), lit("N")))
    val valid = Validate.validExpr(
      items = col("items"), subCategory = col("l_linestatus"),
      category = col("l_returnflag"), quantity = col("l_quantity"),
      totalAmount = col("l_discount") - lit(0.05),
      receivedAmount = col("l_tax"))
    val split = Validate.split(li, valid)
    val side = if (clean) split.clean else split.quarantine
    side.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("amount"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val oracles: Map[String, String] = Map(
    "q01_revenue_by_category" ->
      """SELECT CASE WHEN p_type IN ('ECONOMY','PROMO') THEN 'Budget'
        |            WHEN p_type IN ('SMALL','MEDIUM','STANDARD') THEN 'Mid'
        |            WHEN p_type = 'LARGE' THEN 'Premium'
        |            ELSE 'Uncategorized' END AS category,
        |       CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY category""".stripMargin,
    "q02_token_explode" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(p_name, ' ')) AS token FROM part
        |) WHERE trim(token) <> '' GROUP BY token ORDER BY token""".stripMargin,
    "q03_size_extract" ->
      """SELECT upper(NULLIF(regexp_extract(p_name, '(?i)(small|large|new|old)', 1), '')) AS size_token,
        |       COUNT(*) AS n
        |FROM part GROUP BY 1 ORDER BY size_token NULLS FIRST""".stripMargin,
    "q04_variation_extract" ->
      """SELECT p_partkey,
        |       upper(NULLIF(regexp_extract(p_name, '(?i)(hot|cold)', 1), '')) AS variation
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q05_flavor_conditional" ->
      """SELECT p_partkey,
        |       CASE WHEN regexp_matches(p_name, '(?i)(widget|gizmo)')
        |            THEN upper(NULLIF(regexp_extract(p_name, '(?i)(red|blue|hot|cold|small|large|new|old)', 1), ''))
        |       END AS flavor
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q06_spice_paren_extract" ->
      """SELECT p_partkey,
        |       TRY_CAST(NULLIF(regexp_extract('lot (' || CAST(p_size AS VARCHAR) || '/4)', '(?i)\((\d+)/4\)', 1), '') AS INTEGER) AS spice
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q07_qty_extract_default" ->
      """SELECT p_partkey,
        |       COALESCE(TRY_CAST(NULLIF(regexp_extract(
        |         CASE WHEN p_size % 3 = 0 THEN p_name || ' x' || CAST(p_size AS VARCHAR) ELSE p_name END,
        |         'x\s*(\d+)', 1), '') AS DOUBLE), 1.0) AS qty
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q08_two_part_rename" ->
      """SELECT p_partkey, replace(CASE WHEN regexp_matches(p_name, '(?i)(widget|bolt|ring)') THEN
        |  (CASE WHEN upper(NULLIF(regexp_extract(p_name, '(?i)(widget|bolt|ring)', 1), '')) = 'BOLT' THEN 'BOLTS'
        |        ELSE upper(NULLIF(regexp_extract(p_name, '(?i)(widget|bolt|ring)', 1), '')) END)
        |  || ' - ' ||
        |  upper(NULLIF(regexp_extract(p_name, '(?i)(red|blue|hot|cold|small|large|new|old)', 1), ''))
        |ELSE upper(trim(regexp_replace(regexp_replace(p_name, 'x\s*\d+', '', 'g'), '\s*\(.*\)', '', 'g'))) END,
        |  'RED', 'CRIMSON') AS clean_item
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q09_numeric_coerce" ->
      """SELECT o_orderkey,
        |       TRY_CAST(replace(CASE WHEN o_orderkey % 10 = 0 THEN 'N/A'
        |         ELSE '1,' || CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) END, ',', '') AS DOUBLE) AS parsed
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q10_payment_type" ->
      """WITH base AS (
        |  SELECT CASE WHEN o_orderstatus = 'F' THEN '0.00'
        |              WHEN o_orderstatus = 'O' THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
        |              ELSE '-' END AS cash,
        |         CASE WHEN o_orderstatus = 'P' AND o_orderkey % 2 = 0 THEN '100' ELSE '-' END AS gcash
        |  FROM orders)
        |SELECT CASE WHEN cash IN ('0.00','0') THEN 'Free/Voucher/Discounted'
        |            WHEN cash <> '-' THEN 'Cash'
        |            WHEN gcash <> '-' THEN 'Gcash'
        |            ELSE 'Credit / Debit' END AS payment_type,
        |       COUNT(*) AS n
        |FROM base GROUP BY 1 ORDER BY payment_type""".stripMargin,
    "q11_null_fill_uncategorized" ->
      """SELECT COALESCE(CASE WHEN p_type IN ('ECONOMY','PROMO') THEN 'Budget'
        |                     WHEN p_type = 'LARGE' THEN 'Premium' END,
        |                'Uncategorized') AS category,
        |       COUNT(*) AS n
        |FROM part GROUP BY 1 ORDER BY category""".stripMargin,
    "q12_footer_drop" ->
      """SELECT COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey <> (SELECT MAX(o_orderkey) FROM orders)""".stripMargin,
    "q13_valid_clean" -> f5Sql(clean = true),
    "q14_valid_quarantine" -> f5Sql(clean = false),
    "q15_union_all" ->
      """SELECT k, src FROM (
        |  SELECT o_orderkey AS k, 'A' AS src FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderkey AS k, 'B' AS src FROM orders WHERE o_orderstatus = 'F'
        |) ORDER BY src, k""".stripMargin,
    "q16_dedup_exact" ->
      """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_distinct,
        |       COUNT(DISTINCT md5(text)) AS n_hash
        |FROM documents""".stripMargin,
    "q17_latest_per_user" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // one-shot full-log replay: the incremental fold must match it
    "q106_cdc_apply" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,
    // q139: the streaming-runtime CDC resolution must land on the
    // same one-shot replay — q106's oracle verbatim
    "q139_streaming_cdc" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,
    // q149: replay the two committed frames from the base table; the
    // latest_* columns assert the rollback re-pointed latest at v1
    "q149_snapshot_travel" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 97 <> 0),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM o WHERE o_orderkey % 89 <> 0),
        |d AS (
        |  SELECT CASE WHEN p.o_orderkey IS NULL THEN 'added'
        |              WHEN c.o_orderkey IS NULL THEN 'removed'
        |              WHEN p.o_orderstatus IS DISTINCT FROM c.o_orderstatus
        |                OR p.o_totalprice IS DISTINCT FROM c.o_totalprice THEN 'changed'
        |              ELSE 'unchanged' END AS diff_status,
        |         c.o_totalprice - p.o_totalprice AS delta
        |  FROM v1 p FULL OUTER JOIN v2 c ON p.o_orderkey = c.o_orderkey)
        |SELECT diff_status, COUNT(*) AS n,
        |       CAST(SUM(CAST(delta AS DECIMAL(18,4))) AS DOUBLE) AS price_delta,
        |       CAST(3 AS BIGINT) AS latest_version,
        |       (SELECT COUNT(*) FROM v1) AS latest_rows
        |FROM d GROUP BY 1 ORDER BY diff_status""".stripMargin,
    // q155: the aggregate from the FULL table — a wrongly pruned
    // file would drop rows and hash-break the sums
    "q155_stats_skipping" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS files_pruned, TRUE AS files_nonzero
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q160: full-table replay of the 1999 range + the deterministic
    // prune arithmetic (12 clustered base files + 4 appended = 16;
    // the 1999 range can only live in the 4 appended files)
    "q160_stats_incremental" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(16 AS BIGINT) AS files_total, CAST(4 AS BIGINT) AS files_read
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1999-01-01' AND TIMESTAMP '1999-12-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q162: same replay as q155 — the partition-dir layout must not
    // change WHAT a pruned read returns, only how few files it opens
    "q162_partitioned_skipping" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS files_pruned, TRUE AS files_nonzero
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q163: the committed v1 frame replayed from the base table,
    // restricted to the pruned key range; latest_* assert the
    // rollback re-pointed latest at v1's data AND its reused stats
    // index served the same pruned read
    "q163_snapshot_pruned_travel" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 97 <> 0),
        |r AS (SELECT * FROM v1 WHERE o_orderkey BETWEEN 1 AND 1500)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS files_pruned, TRUE AS files_nonzero,
        |  TRUE AS rollback_reuses_index,
        |  CAST(3 AS BIGINT) AS latest_version,
        |  (SELECT COUNT(*) FROM r) AS latest_rows
        |FROM r GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q165: the 1997 replay again — the stream-maintained index must
    // be invisible in the VALUES (only in the files opened), and
    // stats_match_rebuild pins the index ≡ rebuild invariance
    "q165_streaming_stats_ingest" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS stats_match_rebuild, TRUE AS files_pruned,
        |  TRUE AS files_nonzero
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q166: the committed frame replayed from the base table in the
    // pruned range; the flags pin OPTIMIZE's whole contract (data
    // identity, 48→1 file collapse, intact history)
    "q166_snapshot_optimize" ->
      """WITH v AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 97 <> 0),
        |r AS (SELECT * FROM v WHERE o_orderkey BETWEEN 1 AND 1500)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS data_identical, TRUE AS files_shrank,
        |  CAST(1 AS BIGINT) AS files_after, TRUE AS history_intact,
        |  TRUE AS files_nonzero
        |FROM r GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q167: the box-predicate aggregate from the full table — a
    // wrongly pruned file in EITHER dimension drops rows and
    // hash-breaks the sums
    "q167_zorder_multiskip" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS files_pruned, TRUE AS files_nonzero,
        |  TRUE AS box_tighter_or_equal
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1 AND 3000 AND l_partkey BETWEEN 1 AND 500
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q168: the MERGE result replayed row-for-row (anti-join on the
    // update keys + union) — a dropped untouched file, a
    // double-applied update, or a lost insert all hash-break; the
    // flags pin the bounded rewrite + intact history
    "q168_snapshot_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice
        |  FROM base WHERE o_orderkey <= 300
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'I', o_totalprice
        |  FROM base WHERE o_orderkey % 1000 = 0),
        |merged AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS rewrite_bounded, TRUE AS rewrite_nonzero,
        |  TRUE AS history_intact, TRUE AS v1_unchanged
        |FROM merged GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q169: the DELETE complement from the full table — a candidate
    // file skipped by the rewrite (rows kept that should be gone) or
    // a dropped untouched file both hash-break
    "q169_snapshot_delete" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS rewrite_bounded, TRUE AS rewrite_nonzero,
        |  TRUE AS history_retains
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-06-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q170: the point aggregate from the full table — the bloom's
    // one forbidden failure (a false negative) drops rows and
    // hash-breaks; false positives only open extra files
    "q170_bloom_point_lookup" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS bloom_pruned, TRUE AS bloom_leq_minmax,
        |  TRUE AS files_nonzero
        |FROM lineitem WHERE l_orderkey = 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q171: the 600-900 range replay — the streamed, version-per-
    // batch table must be value-identical to the base table; the
    // flags pin exactly-once across a fresh-checkpoint replay and
    // prefix time travel
    "q171_streaming_snapshot_ingest" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS versions_3, TRUE AS v2_prefix,
        |  TRUE AS files_pruned, TRUE AS files_nonzero
        |FROM lineitem WHERE l_orderkey BETWEEN 600 AND 900
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q172: the evolved union replayed from the base table — pre-
    // evolution rows must read as NULL channel ('legacy' after the
    // coalesce); a schema lost to footer inference would collapse
    // every group to 'legacy' and hash-break
    "q172_snapshot_schema_evolution" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         CAST(NULL AS VARCHAR) AS channel
        |  FROM orders),
        |evo AS (
        |  SELECT o_orderkey + 100000000 AS o_orderkey, o_orderstatus,
        |         o_totalprice,
        |         CASE WHEN o_orderkey % 2 = 0 THEN 'web'
        |              ELSE 'store' END AS channel
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |t AS (SELECT * FROM base UNION ALL SELECT * FROM evo)
        |SELECT o_orderstatus, COALESCE(channel, 'legacy') AS channel,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS schema_evolved, TRUE AS old_nulls
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q173: the CDF contract replayed as a state diff — EXCEPT ALL
    // both ways between the initial and final logical tables is
    // exactly what the file-granular changes() must net out to
    "q173_snapshot_changes" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |appended AS (
        |  SELECT o_orderkey + 200000000 AS o_orderkey,
        |         'A' AS o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 5 = 0),
        |upd AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         o_totalprice + 100.0 AS o_totalprice
        |  FROM base WHERE o_orderkey <= 300),
        |final AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM appended),
        |ins AS (SELECT * FROM final EXCEPT ALL SELECT * FROM base),
        |del AS (SELECT * FROM base EXCEPT ALL SELECT * FROM final),
        |chg AS (
        |  SELECT 'insert' AS _change_type, * FROM ins
        |  UNION ALL SELECT 'delete' AS _change_type, * FROM del)
        |SELECT _change_type, o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS diff_bounded, TRUE AS diff_nonzero,
        |  TRUE AS optimize_cancels
        |FROM chg GROUP BY 1, 2 ORDER BY _change_type, o_orderstatus""".stripMargin,
    // q174: each version's net change = its key slice (append-only
    // feed); the streaming consumer's partition union must replay it
    "q174_streaming_changes" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
        |  FROM lineitem),
        |feed AS (
        |  SELECT CAST(1 AS BIGINT) AS batch_v, * FROM li
        |  WHERE l_orderkey <= 500
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), * FROM li
        |  WHERE l_orderkey > 500 AND l_orderkey <= 1000
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), * FROM li WHERE l_orderkey > 1000)
        |SELECT batch_v, l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS batches_3, TRUE AS feed_equals_table, TRUE AS no_deletes
        |FROM feed GROUP BY 1, 2 ORDER BY batch_v, l_returnflag""".stripMargin,
    // q175: the merge-on-read delete replayed as a complement
    // aggregate — a resurrected position, a missed match, or a
    // vector misapplied under pruning all hash-break
    "q175_deletion_vectors" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS zero_rewrite, TRUE AS rows_deleted_match,
        |  TRUE AS redelete_noop, TRUE AS pruned_composes,
        |  TRUE AS materialize_clean
        |FROM lineitem WHERE l_orderkey % 10 <> 3
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // q176: the expectations split replayed — table rows by status,
    // quarantined rows by the violation label the gate must assign
    "q176_write_expectations" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |batch AS (
        |  SELECT o_orderkey + 300000000 AS o_orderkey,
        |         CASE WHEN o_orderkey % 13 = 0 THEN 'Z'
        |              ELSE o_orderstatus END AS o_orderstatus,
        |         CASE WHEN o_orderkey % 11 = 0 THEN -o_totalprice
        |              ELSE o_totalprice END AS o_totalprice,
        |         o_orderkey % 11 = 0 AS v_price,
        |         o_orderkey % 13 = 0 AS v_status
        |  FROM base WHERE o_orderkey % 3 = 0),
        |u AS (
        |  SELECT 'table' AS src, o_orderstatus AS k, o_totalprice FROM base
        |  UNION ALL
        |  SELECT 'table', o_orderstatus, o_totalprice FROM batch
        |  WHERE NOT v_price AND NOT v_status
        |  UNION ALL
        |  SELECT 'quarantine',
        |         CASE WHEN v_price AND v_status
        |                THEN 'price_positive,status_known'
        |              WHEN v_price THEN 'price_positive'
        |              ELSE 'status_known' END,
        |         o_totalprice
        |  FROM batch WHERE v_price OR v_status)
        |SELECT src, k, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS strict_refused, TRUE AS constraints_2, TRUE AS split_total
        |FROM u GROUP BY 1, 2 ORDER BY src, k""".stripMargin,
    // q177: all four CDF change classes replayed from the operation
    // definitions — a mispaired update or a leaked survivor breaks
    "q177_keyed_changes" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |chg AS (
        |  SELECT 'update_preimage' AS _change_type, o_orderstatus,
        |         o_totalprice
        |  FROM base WHERE o_orderkey <= 300
        |  UNION ALL
        |  SELECT 'update_postimage', o_orderstatus, o_totalprice + 100.0
        |  FROM base WHERE o_orderkey <= 300
        |  UNION ALL
        |  SELECT 'insert', 'N', o_totalprice
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 'delete', o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey BETWEEN 400 AND 600)
        |SELECT _change_type, o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS diff_bounded
        |FROM chg GROUP BY 1, 2
        |ORDER BY _change_type, o_orderstatus""".stripMargin,
    // q178: the fully-applied CDC state — bootstrap, then batch 2/3
    // restatements and inserts, exactly once each
    "q178_streaming_upsert" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey <= 1000),
        |fin AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |         o_totalprice + 50.0 AS o_totalprice
        |  FROM o WHERE o_orderkey <= 300
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0
        |  FROM o WHERE o_orderkey > 300 AND o_orderkey <= 500
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM o WHERE o_orderkey > 500
        |  UNION ALL
        |  SELECT o_orderkey + 500000000, 'S', o_totalprice
        |  FROM o WHERE o_orderkey % 9 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS versions_3, TRUE AS pruned_correct
        |FROM fin GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q179: the final rollup the incrementally-maintained aggregate
    // must equal (cents-integer sums — exact in both engines)
    "q179_cdf_incremental_agg" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS price_cents
        |  FROM orders),
        |app AS (
        |  SELECT o_orderkey + 200000000 AS o_orderkey,
        |         'A' AS o_orderstatus, price_cents
        |  FROM base WHERE o_orderkey % 5 = 0),
        |upd AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         price_cents + 10000 AS price_cents
        |  FROM base WHERE o_orderkey <= 300),
        |fin AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM app)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents,
        |  TRUE AS incremental_exact
        |FROM fin GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q180: final per-lang corpus counts (appended minus purged);
    // the signature values themselves are pinned engine-side by the
    // store ≡ rebuild and forget-propagation flags
    "q180_cdf_derived_store" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT doc_id) AS n_ids,
        |  TRUE AS store_matches_rebuild, TRUE AS forget_propagated
        |FROM documents WHERE doc_id % 7 <> 2
        |GROUP BY 1 ORDER BY lang""".stripMargin,
    // q181 (clone): the diverged clone state — a +500 restatement on keys
    // ≤ 300 over the cloned (otherwise identical) source
    "q181_shallow_clone" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |fin AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey <= 300 THEN o_totalprice + 500.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM base)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS no_copy, TRUE AS clone_pruned, TRUE AS src_untouched,
        |  TRUE AS rewrite_bounded
        |FROM fin GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q182: the silver table replayed as the transform over bronze's
    // final state (3 ingest slices ∪ the late batch)
    "q182_medallion_pipeline" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
        |  FROM lineitem),
        |bronze AS (
        |  SELECT * FROM li
        |  UNION ALL
        |  SELECT l_orderkey + 900000000, l_returnflag, l_quantity,
        |         l_extendedprice
        |  FROM li WHERE l_orderkey % 13 = 0),
        |silver AS (SELECT * FROM bronze WHERE l_quantity > 25)
        |SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS incremental_exact, TRUE AS versions_4
        |FROM silver GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // q183: lineage = each append's key slice, minus the later purge
    "q183_file_lineage" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 10 <> 7),
        |lin AS (
        |  SELECT CAST(1 AS BIGINT) AS _commit_version, * FROM li
        |  WHERE l_orderkey <= 500
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), * FROM li
        |  WHERE l_orderkey > 500 AND l_orderkey <= 1000
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), * FROM li WHERE l_orderkey > 1000)
        |SELECT _commit_version, l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lin GROUP BY 1, 2
        |ORDER BY _commit_version, l_returnflag""".stripMargin,
    // q184: the SQL-surface read replayed — base+append−purge under
    // the query's own range predicate; a wrongly pruned file, a
    // misapplied deletion vector, or a broken time-travel resolution
    // all hash-break
    "q184_snapshot_sql" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS files_pruned, TRUE AS version_pinned
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1 AND 400 AND l_orderkey % 10 <> 3
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // q190: base ∪ the four shifted appends — a dropped carried file,
    // a lost tiny file, or a double-compacted row all hash-break; the
    // flags pin the selective contract (4-of-6 rewrite, carried big
    // files byte-identical by path, no-op second pass)
    "q190_selective_optimize" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
        |  FROM lineitem),
        |one AS (SELECT * FROM base WHERE l_orderkey = 1),
        |app AS (
        |  SELECT l_orderkey + 10000000 AS l_orderkey, l_returnflag,
        |         l_quantity, l_extendedprice FROM one
        |  UNION ALL SELECT l_orderkey + 20000000, l_returnflag,
        |         l_quantity, l_extendedprice FROM one
        |  UNION ALL SELECT l_orderkey + 30000000, l_returnflag,
        |         l_quantity, l_extendedprice FROM one
        |  UNION ALL SELECT l_orderkey + 40000000, l_returnflag,
        |         l_quantity, l_extendedprice FROM one),
        |t AS (SELECT * FROM base UNION ALL SELECT * FROM app)
        |SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS rewrite_selective, TRUE AS big_files_carried,
        |  TRUE AS data_identical, TRUE AS second_optimize_noop,
        |  TRUE AS stats_survive
        |FROM t GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // q196: non-F rows ∪ the reloaded F partition — a dropped carried
    // file, a surviving stale F row, or a lost reload row all
    // hash-break; flags pin the zero-read reload contract
    "q196_partition_reload" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderstatus <> 'F'
        |  UNION ALL
        |  SELECT o_orderkey + 5000000, 'F', o_totalprice + 50.0
        |  FROM orders WHERE o_orderstatus = 'F')
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS zero_pre_existing_reads, TRUE AS others_carried_by_path,
        |  TRUE AS reload_receipt
        |FROM t GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q191: the SQL MERGE upsert replayed row-for-row (anti-join +
    // union — the q168 oracle through the SQL route); flags pin the
    // receipt and the bounded rewrite
    "q191_snapshot_sql_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice
        |  FROM base WHERE o_orderkey <= 300
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'I', o_totalprice
        |  FROM base WHERE o_orderkey % 1000 = 0),
        |merged AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS merge_receipt, TRUE AS rewrite_bounded,
        |  TRUE AS history_intact
        |FROM merged GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q192: the SET arithmetic replayed as a CASE — a resurrected old
    // row, a double-applied update, or a lost unmatched row all
    // hash-break the sums
    "q192_snapshot_sql_update" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    CASE WHEN l_orderkey % 10 = 3 THEN l_quantity + 5.0
        |         ELSE l_quantity END AS l_quantity,
        |    CASE WHEN l_orderkey % 10 = 3 THEN l_extendedprice * 2.0
        |         ELSE l_extendedprice END AS l_extendedprice
        |  FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS update_receipt, TRUE AS zero_prior_rewrite,
        |  TRUE AS vector_carried, TRUE AS rows_stable
        |FROM t GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // q193: the filtered aggregate from the base table (the appended
    // +3e8 keys fall outside the filter); the flags pin partition
    // pruning firing FIRST and stats composing inside the survivor
    "q193_partitioned_snapshot" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS partition_pruned, TRUE AS stats_compose,
        |  TRUE AS append_keeps_layout
        |FROM orders WHERE o_orderkey <= 3000
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q197: the plain star join — the appended batch's offset keys
    // match no customer, so a mis-bucketed row (wrong-bucket join
    // loss) or a lost/duplicated append row changes n/price_sum
    "q197_bucketed_snapshot" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS join_shuffle_free, TRUE AS agg_shuffle_free,
        |  TRUE AS append_keeps_tags
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    // q198: the restored-v2 state — a wrong OPTIMIZE rewrite, a
    // restore landing on the wrong version, or a vacuum reclaiming
    // live data all change the rows (and flip their receipt flags)
    "q198_sql_maintenance" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS optimize_receipt, TRUE AS history_complete,
        |  TRUE AS restore_receipt, TRUE AS vacuum_trims_keeps_data
        |FROM orders WHERE o_orderkey % 3 <= 1
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q199: the post-rename lifecycle replayed — base ∪ the
    // key-offset insert, minus the price-threshold delete; a rename
    // that lost data, an insert routed under the wrong names, or a
    // delete resolving the wrong column all change the rows
    "q199_column_mapping" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice AS price FROM orders),
        |app AS (
        |  SELECT o_orderkey + 5000000 AS o_orderkey,
        |    o_totalprice + 10.0 AS price
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |allr AS (SELECT * FROM base UNION ALL SELECT * FROM app)
        |SELECT o_orderkey % 10 AS k, COUNT(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS rename_zero_churn, TRUE AS drop_zero_churn,
        |  TRUE AS time_travel_names, TRUE AS logical_insert,
        |  TRUE AS logical_delete
        |FROM allr WHERE NOT (price < 20000.0)
        |GROUP BY 1 ORDER BY k""".stripMargin,
    // q200: the partition inventory is exactly the distinct statuses
    // — a partition lost from the paths, a torn catalog pin, or a
    // change feed fabricating rows flips a row or a flag
    "q200_sql_metadata" ->
      """SELECT o_orderstatus, TRUE AS files_positive,
        |  TRUE AS show_tables_ok, TRUE AS changes_ok
        |FROM (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY o_orderstatus""".stripMargin,
    // q194: the pinned-state star join (both tables at their ≤1000
    // appended state); a torn pin set, a lost staged commit, or a
    // vacuum breaking the pinned history all flip a flag or the rows
    "q194_catalog_txn_helper" ->
      """WITH f AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey <= 1000),
        |d AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders
        |  WHERE o_orderkey <= 1000)
        |SELECT o_orderstatus, l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  TRUE AS txn_flipped, TRUE AS failed_stage_pins_nothing,
        |  TRUE AS vacuum_honors_pins
        |FROM f JOIN d ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY o_orderstatus, l_returnflag""".stripMargin,
    // q195: the appended batch as the full insert-side change feed;
    // ts-addressed ≡ version-addressed is pinned by the flag
    "q195_changes_by_timestamp" ->
      """SELECT 'insert' AS _change_type, 'A' AS o_orderstatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS matches_version_addressed, TRUE AS empty_self_diff,
        |  TRUE AS churn_bounded
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin,
    // q189: base ∪ self-insert − delete replayed under the final SQL
    // read — a misrouted INSERT, a resurrected deleted row, or a
    // positional-match slip changes the rows
    "q189_snapshot_dml" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_orderkey <= 1000),
        |ins AS (
        |  SELECT l_orderkey + 3000000 AS l_orderkey, l_returnflag,
        |         l_quantity, l_extendedprice
        |  FROM base WHERE l_orderkey % 3 = 0),
        |t AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
        |SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS insert_receipt, TRUE AS delete_receipt,
        |  TRUE AS delete_zero_rewrite
        |FROM t WHERE l_orderkey % 10 <> 3
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // q188: the audit log replayed — every version's exact logical
    // row count from the base table; a writer mis-recording n_rows,
    // a lost vector flag, or a constraint not riding the log breaks
    "q188_snapshot_history" ->
      """WITH base AS (SELECT o_orderkey FROM orders),
        |app AS (SELECT o_orderkey + 200000000 AS o_orderkey
        |        FROM base WHERE o_orderkey % 5 = 0),
        |t2 AS (SELECT * FROM base UNION ALL SELECT * FROM app),
        |d AS (SELECT COUNT(*) AS del FROM t2 WHERE o_orderkey % 7 = 2)
        |SELECT CAST(1 AS BIGINT) AS version, 'dir' AS layout,
        |       (SELECT COUNT(*) FROM base) AS n_rows,
        |       FALSE AS has_dv, 0 AS n_constraints
        |UNION ALL SELECT 2, 'manifest', (SELECT COUNT(*) FROM t2), FALSE, 0
        |UNION ALL SELECT 3, 'manifest',
        |       (SELECT COUNT(*) FROM t2) - (SELECT del FROM d), TRUE, 0
        |UNION ALL SELECT 4, 'dir', (SELECT COUNT(*) FROM base), FALSE, 0
        |UNION ALL SELECT 5, 'dir', (SELECT COUNT(*) FROM base), FALSE, 1
        |ORDER BY version""".stripMargin,
    // q187: the catalog-pinned star join replayed — the pinned state
    // is keys ≤ 2000 on BOTH sides; a torn pin set (new facts × old
    // dims or the in-flight fact leak) changes the rows
    "q187_catalog_txn" ->
      """SELECT l_returnflag, o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS consistent_join, TRUE AS raw_would_orphan,
        |  TRUE AS time_travel_ok
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey <= 2000
        |GROUP BY 1, 2 ORDER BY l_returnflag, o_orderstatus""".stripMargin,
    // q186: the gold rollup replayed straight from the base table —
    // a stale hop (bronze→silver or silver→gold), a duplicate
    // version, or a lost late batch all hash-break
    "q186_medallion_gold" ->
      """WITH silver AS (
        |  SELECT l_orderkey, l_returnflag,
        |         CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS rev_cents
        |  FROM lineitem WHERE l_quantity > 25.0)
        |SELECT l_returnflag, COUNT(*) AS n, CAST(SUM(rev_cents) AS BIGINT) AS sum_rev_cents,
        |  TRUE AS gold_exact, TRUE AS silver_exact, TRUE AS versions_3
        |FROM silver GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // q150: one-shot ordered replay of the running-baseline fold —
    // the streaming runtime's union-of-batches must match per reading
    "q150_streaming_spikes" ->
      """WITH r AS (
        |  SELECT user_id AS key, event_id AS seq,
        |         (event_id * 7919) % 10000 AS cents
        |  FROM events WHERE user_id % 5 = 0),
        |w AS (
        |  SELECT key, seq, cents,
        |         COUNT(*) OVER win AS n_baseline,
        |         SUM(cents) OVER win AS sum_b
        |  FROM r
        |  WINDOW win AS (PARTITION BY key ORDER BY seq
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT key, seq, cents, n_baseline,
        |       CASE WHEN n_baseline > 0
        |            THEN CAST(sum_b AS DOUBLE) / n_baseline
        |            ELSE 0.0 END AS baseline_mean_cents,
        |       (n_baseline > 0 AND
        |        cents > 1.5 * (CAST(sum_b AS DOUBLE) / n_baseline)) AS is_spike
        |FROM w ORDER BY key, seq""".stripMargin,
    "q83_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |prev AS (SELECT * FROM o WHERE o_orderkey % 97 <> 0),
        |cur AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM o WHERE o_orderkey % 89 <> 0),
        |d AS (
        |  SELECT CASE WHEN p.o_orderkey IS NULL THEN 'added'
        |              WHEN c.o_orderkey IS NULL THEN 'removed'
        |              WHEN p.o_orderstatus IS DISTINCT FROM c.o_orderstatus
        |                OR p.o_totalprice IS DISTINCT FROM c.o_totalprice THEN 'changed'
        |              ELSE 'unchanged' END AS diff_status,
        |         c.o_totalprice - p.o_totalprice AS delta
        |  FROM prev p FULL OUTER JOIN cur c ON p.o_orderkey = c.o_orderkey)
        |SELECT diff_status, COUNT(*) AS n,
        |       CAST(SUM(CAST(delta AS DECIMAL(18,4))) AS DOUBLE) AS price_delta
        |FROM d GROUP BY 1 ORDER BY diff_status""".stripMargin,
    // brute-force mirror: the blocked join must find exactly the
    // pairs an exhaustive levenshtein scan finds
    "q85_fuzzy_match" ->
      """WITH probes AS (
        |  SELECT p_partkey AS probe_key, substr(p_name, 2) AS probe_name
        |  FROM part WHERE p_partkey % 50 = 0),
        |names AS (SELECT p_partkey AS build_key, p_name AS build_name FROM part),
        |cand AS (
        |  SELECT probe_key, probe_name, build_key, build_name,
        |         levenshtein(probe_name, build_name) AS dist
        |  FROM probes CROSS JOIN names)
        |SELECT probe_key, probe_name, build_name AS best_name,
        |       CAST(dist AS BIGINT) AS dist
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_key
        |            ORDER BY dist, build_name, build_key) AS rn
        |  FROM cand WHERE dist <= 1)
        |WHERE rn = 1 ORDER BY probe_key""".stripMargin,
    // brute-force fuzzy edges -> recursive min-label components: the
    // blocked join + star-contraction pipeline must produce exactly
    // these clusters
    "q90_entity_clusters" ->
      """WITH RECURSIVE
        |probes AS (
        |  SELECT p_partkey + 10000000 AS pk, substr(p_name, 2) AS pn
        |  FROM part WHERE p_partkey % 50 = 0),
        |names AS (SELECT p_partkey AS bk, p_name AS bn FROM part),
        |pairs AS (
        |  SELECT pk, bk FROM probes CROSS JOIN names
        |  WHERE levenshtein(pn, bn) <= 1),
        |edges AS (SELECT pk AS a, bk AS b FROM pairs
        |          UNION SELECT bk, pk FROM pairs),
        |nodes AS (SELECT DISTINCT a AS node FROM edges),
        |walk(node, lab) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node),
        |comp AS (SELECT node, MIN(lab) AS cluster_id FROM walk GROUP BY node)
        |SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
        |       COUNT(*) AS n_members,
        |       CAST(SUM(CASE WHEN node >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_probes
        |FROM comp GROUP BY 1 ORDER BY cluster_id""".stripMargin,
    // q201: base ∪ the %9 insert — a CTAS that lost rows, an INSERT
    // routed past the layout, or a mis-bucketed row (wrong-bucket
    // agg) changes n/price_sum; flags pin birth receipt + layouts
    "q201_sql_create_table" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 7000000, o_custkey + 10000000,
        |         o_orderstatus, o_totalprice + 5.0
        |  FROM orders WHERE o_orderkey % 9 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS ctas_receipt, TRUE AS insert_inherits_layout,
        |  TRUE AS partitions_from_paths, TRUE AS bucket_layout_real
        |FROM t GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q202: the clause algebra replayed row-for-row — matched-cheap
    // updates, matched-rich deletes, condition-filtered inserts; a
    // clause applied out of order, a lost kept row, or a double
    // update all hash-break
    "q202_sql_merge_clauses" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |kept AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey <= 400 AND o_totalprice < 100000.0
        |         THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice
        |  FROM base
        |  WHERE NOT (o_orderkey <= 400 AND o_totalprice >= 100000.0)),
        |ins AS (
        |  SELECT o_orderkey + 200000000 AS o_orderkey,
        |         'N' AS o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 500 = 0 AND o_totalprice > 50000.0),
        |t AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS clause_receipt, TRUE AS rewrite_bounded
        |FROM t GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q203: the three-key upsert — a lost update, a wrong-bucket
    // write, or a carried file dropped by the bucket pruning all
    // change bal_sum; the flags pin the hit-buckets-only rewrite
    "q203_bucket_merge" ->
      """WITH t AS (
        |  SELECT c_mktsegment,
        |    CASE WHEN c_custkey IN (3, 502, 1001)
        |         THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal
        |  FROM customer)
        |SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_sum,
        |  TRUE AS opens_hit_buckets_only, TRUE AS rewrite_bounded
        |FROM t GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    // q204: base ∪ the ≤500 debt batch — an incremental re-cluster
    // that lost or duplicated a row (debt or carried side) breaks the
    // sums; the flags pin the bounded rewrite and preserved skipping
    "q204_incremental_zorder" ->
      """WITH t AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_orderkey <= 500)
        |SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  TRUE AS rewrite_subset, TRUE AS carried_by_path,
        |  TRUE AS data_identical, TRUE AS second_pass_noop,
        |  TRUE AS skip_preserved
        |FROM t GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // q205: base ∪ the col-list batch (unnamed columns NULL — the
    // 'none' status group); a torn recreation, a lost NULL-filled
    // column, or a detail miscount flips a flag or the sums
    "q205_sql_table_detail" ->
      """WITH t AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT NULL, o_totalprice + 1.0 FROM orders
        |  WHERE o_orderkey % 11 = 0)
        |SELECT coalesce(o_orderstatus, 'none') AS status, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS detail_ok, TRUE AS show_create_reproduces,
        |  TRUE AS col_list_insert_ok
        |FROM t GROUP BY 1 ORDER BY status""".stripMargin,
    // q206: the dimension-sync algebra replayed row-for-row — matched
    // rows take the feed price but KEEP their status (column-subset
    // SET *), absent cheap rows expire to 'X', absent rich rows
    // delete; a resurrected deleted row, a lost status, or an
    // expiration applied to a matched row all hash-break
    "q206_sql_merge_not_matched_by_source" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 <> 0 AND o_totalprice < 100000.0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS sync_receipt, TRUE AS full_scan_honest
        |FROM t GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q207: the final lifecycle state is the OR-REPLACE'd subset,
    // restored after the drop — a CREATE that silently replaced, a
    // replace that appended instead, or a restore of the wrong
    // version all change the sums; the flags pin the refusals and
    // the physical reclaim
    "q207_sql_table_lifecycle" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS create_refuses_existing, TRUE AS or_replace_converges,
        |  TRUE AS drop_refuses_reads, TRUE AS predrops_readable,
        |  TRUE AS restore_undrops_vacuum_reclaims
        |FROM orders WHERE o_orderkey % 4 = 0
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q208: the column-list insert algebra replayed — matched rows
    // take the conditional SET (status kept), inserted rows are the
    // VALUES expressions exactly (status 'I', doubled price, offset
    // key); a NULL-filled status or a star-shaped insert hash-breaks
    "q208_sql_merge_insert_values" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'I', o_totalprice * 2.0
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS receipt_ok
        |FROM t GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q209: the widening lifecycle's final state — matched updates,
    // NULL-status inserts at keys past Int.MaxValue (key_sum proves
    // the widened longs survived the log round-trip), pre-widening
    // rows untouched; the booleans pin the restore and the preview
    "q209_sql_widening_lifecycle" ->
      """WITH t AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT CAST(o_orderkey AS BIGINT) + 3000000000, NULL,
        |    o_totalprice * 2.0
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT coalesce(o_orderstatus, 'none') AS status, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  CAST(SUM(k) AS BIGINT) AS key_sum,
        |  TRUE AS widened_to_long, TRUE AS restore_ts_ok,
        |  TRUE AS dryrun_preview_ok
        |FROM t GROUP BY 1 ORDER BY status""".stripMargin,
    // q210: the DDL-widening lifecycle's final state — original rows
    // untouched, the wide producer's rows at keys past Int.MaxValue
    // (key_sum proves the widened longs survived), the narrow
    // producer's rows up-cast at the boundary; booleans pin the
    // metadata-only commit, the no-op, and the lossy refusal
    "q210_sql_alter_widen" ->
      """WITH t AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus,
        |    o_totalprice FROM orders
        |  UNION ALL
        |  SELECT CAST(o_orderkey AS BIGINT) + 3000000000, 'W',
        |    o_totalprice * 2.0 FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT CAST(o_orderkey AS BIGINT) + 1000000000, 'N',
        |    o_totalprice FROM orders WHERE o_orderkey % 11 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  CAST(SUM(k) AS BIGINT) AS key_sum,
        |  TRUE AS metadata_only, TRUE AS noop_idempotent,
        |  TRUE AS lossy_refused
        |FROM t GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q211: the first-match-wins routing replayed — matched rows take
    // the SET, unmatched rows split on the clause-1 predicate ('H'
    // verbatim vs 'L' halved); a wrong clause order, a both-clauses
    // double-insert, or a dropped no-clause row all hash-break
    "q211_sql_merge_multi_insert" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 100000000,
        |    CASE WHEN o_totalprice >= 150000.0 THEN 'H' ELSE 'L' END,
        |    CASE WHEN o_totalprice >= 150000.0 THEN o_totalprice
        |         ELSE o_totalprice * 0.5 END
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS receipt_ok
        |FROM t GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q212: the derived table's final state = the source's full
    // mutation algebra (merge re-prices and inserts, the purge drops
    // every 10th-mod-3 key — offset keys included, since the offset
    // preserves the modulus); a missed delete, a double-applied
    // insert, or a stale update all hash-break
    "q212_streaming_cdc_apply" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey <= 40000),
        |merged AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'Z', o_totalprice * 2.0
        |  FROM base WHERE o_orderkey % 7 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS derived_equals_source, TRUE AS resume_incremental,
        |  TRUE AS replay_noop
        |FROM merged WHERE o_orderkey % 10 <> 3
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q213: the dynamic reload algebra replayed — O rows untouched,
    // F/P rows replaced by their shifted reload, the IF-NOT-EXISTS
    // skip contributes NOTHING on F, the IF-NOT-EXISTS insert lands
    // the Z partition; a partition the statement never mentioned
    // being dropped, a double-applied skip, or a missed Z insert all
    // hash-break
    "q213_sql_dynamic_partition_overwrite" ->
      """WITH final AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderkey + 5000000, o_orderstatus, o_totalprice + 50.0
        |  FROM orders WHERE o_orderstatus IN ('F', 'P')
        |  UNION ALL
        |  SELECT o_orderkey + 9000000, 'Z', o_totalprice
        |  FROM orders WHERE o_orderstatus = 'O')
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS dynamic_receipt, TRUE AS others_carried_by_path,
        |  TRUE AS ifnotexists_skipped, TRUE AS ifnotexists_inserted
        |FROM final GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // q214: the cumulative COPY load — seed + both staged folders,
    // each exactly once; a double-loaded replay, a dropped staged file, or
    // post-vacuum re-ingestion all hash-break (the flags pin the
    // receipts; the values pin the data)
    "q214_sql_copy_into" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
        |  TRUE AS first_copy_ok, TRUE AS replay_noop,
        |  TRUE AS incremental_ok, TRUE AS survives_truncation
        |FROM orders WHERE o_orderkey <= 50000
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin
  )

  private def f5Sql(clean: Boolean): String = {
    val valid =
      """(NULLIF(l_returnflag, 'N') IS NOT NULL
        | AND l_linestatus IS NOT NULL AND l_returnflag IS NOT NULL
        | AND NOT COALESCE(l_quantity < 0, FALSE)
        | AND NOT COALESCE((l_discount - 0.05) < 0, FALSE)
        | AND NOT COALESCE(l_tax < 0, FALSE))""".stripMargin
    val pred = if (clean) valid else s"NOT $valid"
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS amount
       |FROM lineitem WHERE $pred
       |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin
  }
}
