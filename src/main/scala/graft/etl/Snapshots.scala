package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{abs, array_repeat, coalesce, col, explode, lit, sum, when}

/** Versioned table snapshots with time travel — the Delta-lite
  * commit protocol over plain parquet dirs, completing the table-
  * maintenance tier ([[Load.writeSharded]]'s commit marker,
  * [[Load.compact]], [[Load.writeClustered]]) with history. The
  * reference upserts destructively with no history or undo
  * (`main.py:50,85` — a bad batch permanently overwrites good
  * rows); at 100 TB "restore yesterday" must be metadata-only,
  * which is what the version log below provides:
  *
  * {{{
  *   <root>/_versions/v00000001.json   // version log (commit points)
  *   <root>/_versions/_latest_hint     // "<latest> [<max tag>]" listing floor
  *   <root>/_versions/_ckpt            // audit checkpoint, one row per version
  *   <root>/data/c-<nonce>/ ...        // immutable snapshot data
  *   <root>/manifests/m-<nonce>.txt    // a manifest version's file list
  *   <root>/dv/d-<nonce>/ ...          // deletion vectors (merge-on-read)
  *   <root>/_stats/<layout>/ ...       // per-layout file stats index
  *   <root>/_copy/c-<nonce>.txt        // COPY INTO ledgers (k- once vacuumed)
  * }}}
  *
  * [[VersionLog]] is the one codec of the version bodies, the
  * `_ckpt` lines and the catalog's bodies.
  *
  * Commit protocol (MULTI-writer, any number of readers — Delta-
  * style optimistic concurrency):
  *  1. the snapshot's data dir — writer-UNIQUE, never shared —
  *     is fully written (and its _SUCCESS present) BEFORE the
  *     version file appears;
  *  2. the version file is created by write-to-temp + atomic rename —
  *     its EXISTENCE is the commit point, exactly the
  *     `_MANIFEST.json` discipline of [[Load.writeSharded]]; rename
  *     fails if the destination exists, so exactly one writer wins
  *     each version number and a loser retries at the next (a tiny
  *     metadata retry — its unique data dir is untouched).
  *  A crash mid-write leaves an orphan `data/c-*` dir that no
  *  version references — invisible to readers, reclaimed by
  *  [[vacuum]] — never a readable-but-partial version.
  *
  * Time travel: every version file records which data dir it reads
  * from, so old versions stay readable after later commits, and
  * [[rollback]] is METADATA-ONLY — it publishes a new version that
  * points at an old version's data dir (no copy; the 100 TB-scale
  * undo must not rewrite 100 TB).
  *
  * Scale notes: the version log is one tiny JSON file per commit
  * (listed, not read, to find the latest); data dirs are immutable,
  * so caching/scan layers never see in-place mutation; [[vacuum]]
  * bounds storage to the retained history.
  */
object Snapshots {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionsDir(root: String) = new Path(root, "_versions")

  private[etl] def readUtf8(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private[etl] def versionFile(root: String, v: Long) =
    new Path(versionsDir(root), f"v$v%08d.json")

  private val VFILE = """v(\d{8})\.json""".r

  /** All committed versions, ascending (a directory listing of the
    * version log — no file contents read).
    */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    fullListings.incrementAndGet()
    val dir = versionsDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case VFILE(n) => n.toLong
    }.sorted
  }

  /** Test-observable counter of FULL version-log listings — the spec
    * hook proving the hot path ([[latestVersion]]) stays O(1) as the
    * log grows (see [[latestVersion]]'s floor).
    */
  private[graft] val fullListings = new java.util.concurrent.atomic.AtomicLong

  /** The LISTING FLOOR — Delta's `_last_checkpoint` shape: every
    * successful publish best-effort overwrites `_versions/
    * _latest_hint` with its version number, so the hottest metadata
    * read (`latestVersion`, on the path of EVERY read and every
    * commit) costs one tiny read plus a few existence probes instead
    * of listing the whole log. A version-per-micro-batch stream
    * (q171's shape) grows the log without bound; without the floor
    * every append pays an O(#commits) listing.
    *
    * Probing forward from the hint is CORRECT because version
    * numbers above any once-latest version are contiguous: every
    * publish lands at latest+1 ([[publishNext]] /
    * [[occPublish]]), so gaps only ever come from [[vacuum]]
    * deleting BELOW the retained tail — and vacuum refreshes the
    * hint to the true latest BEFORE deleting anything. A missing /
    * unparseable / vacuumed-away hint falls back to the full
    * listing, never to a wrong answer.
    */
  def latestVersion(spark: SparkSession, root: String): Option[Long] = {
    val hf = hintFile(root)
    val f = fs(spark, hf)
    val hinted = readHint(f, hf).map(_._1)
      .filter(h => f.exists(versionFile(root, h)))
    hinted match {
      case Some(h) =>
        var v = h
        while (f.exists(versionFile(root, v + 1))) v += 1
        Some(v)
      case None => versions(spark, root).lastOption
    }
  }

  private def hintFile(root: String) = new Path(versionsDir(root), "_latest_hint")

  /** The hint is the CHECKPOINT SEAM (Delta's `_last_checkpoint`
    * shape), now carrying aggregate state beyond the version floor:
    * `"<version>"` (floor only) or `"<version> <tag>"` — the second
    * field asserting "the largest idempotency tag any version at or
    * below `version` carries is EXACTLY `tag`". The claim is stable
    * once written (version files are immutable and tags only appear
    * at publish time), so even a DELAYED hint write deposits a true
    * statement — [[lastTag]] reads the claim plus the contiguous
    * tail's version files instead of listing the whole log, which is
    * what keeps the per-micro-batch replay guard O(1) on a
    * version-per-batch stream (q171's shape at 10⁵ commits).
    */
  private def readHint(f: FileSystem, hf: Path): Option[(Long, Option[Long])] =
    try {
      if (!f.exists(hf)) None
      else {
        val body = readUtf8(f, hf)
        // ASCII digits only (Char.isDigit admits Unicode digits
        // toLong rejects), then Try for the overflow edge — ANY
        // unreadable field must mean "drop this field", never an
        // exception. No length cap: [[writeHint]] emits any Long
        // (up to 19 digits), and a cap here would write claims that
        // can never be read back — a legal large tag permanently
        // degrading lastTag to listing walks
        def num(t: String): Option[Long] =
          if (t.nonEmpty && t.forall(c => c >= '0' && c <= '9'))
            scala.util.Try(t.toLong).toOption
          else None
        body.trim.split(' ') match {
          case Array(v) => num(v).map(n => (n, None))
          // the floor parses INDEPENDENTLY of the tag: an unreadable
          // tag field (e.g. a legal 19-digit Long) drops only the
          // claim — losing the floor too would send every
          // latestVersion call to a full listing, and tagged
          // publishes rewriting the same unreadable hint would make
          // that degradation permanent
          case Array(v, t) => num(v).map(vn => (vn, num(t)))
          case _ => None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Best-effort floor refresh — a failed write costs the NEXT reader
    * a probe walk (or, eventually, one full listing), never
    * correctness. Concurrent writers may interleave (a later hint
    * briefly overwritten by an earlier one); the probe walks forward
    * past any regression. Catches NonFatal, not just IOException: the
    * refresh runs AFTER a won publish, and an exotic filesystem error
    * here must never surface an already-committed publish as a
    * failure (an untagged caller retrying would double-commit).
    * Returns whether the write landed ([[vacuumKeep]] must know).
    */
  private def writeHint(f: FileSystem, root: String, v: Long,
                        tag: Option[Long] = None): Boolean =
    try {
      val out = f.create(hintFile(root), true)
      try out.write((v.toString + tag.map(t => s" $t").getOrElse(""))
        .getBytes("UTF-8"))
      finally out.close()
      true
    } catch { case scala.util.control.NonFatal(_) => false }

  /** A bucket layout recorded in the version log — the table
    * property that makes repeated large-large joins and aggregations
    * on a stable key SHUFFLE-FREE: every data file of a bucketed
    * version holds exactly the rows whose `pmod(murmur3(cols), n)`
    * equals the file's bucket tag, so the SQL scan
    * ([[sqlScan]] → `HadoopFsRelation.bucketSpec`) reports
    * `HashPartitioning(cols, n)` to the planner and
    * EnsureRequirements elides the exchange on both join sides (and
    * the sort too, while a bucket has a single sorted file). At
    * 100 TB this is the difference between re-shuffling the fact
    * table on every query and never shuffling it at all; pick `n`
    * for the target scale (buckets are the scan's parallelism when
    * the bucketed plan wins — Spark auto-disables the bucketed scan
    * for queries it cannot help).
    */
  final case class Bucketing(n: Int, cols: Seq[String],
                             sort: Seq[String] = Nil) {
    require(n > 0, s"bucket count must be positive, got $n")
    require(cols.nonEmpty, "bucketing needs at least one column")
    (cols ++ sort).foreach(requireLoggable(_, "bucket column"))
  }

  /** The version log's identifier rule: a partition, bucket or
    * mapped column name may not contain ']' or a line break.
    * [[VersionLog]] round-trips any string; the rule stays because
    * readers older than that codec parse these arrays with a `[^\]]*`
    * group and do not unescape `\n`, so they would mis-read a newer
    * log holding such a name. Lifting it is a change of its own.
    */
  private[etl] def requireLoggable(name: String, what: String): Unit =
    require(!name.exists(ch => ch == ']' || ch == '\n' || ch == '\r'),
      s"$what '$name' contains ']' or a line break — version-log " +
        "readers older than the JSON codec cannot round-trip it; rename " +
        "the column first")

  /** COLUMN MAPPING — metadata-only RENAME/DROP COLUMN (Delta's
    * column-mapping 'name' mode): the log records how the PHYSICAL
    * parquet field names (what the immutable files carry) present as
    * the LOGICAL schema readers see, so renaming or dropping a
    * column on a 100 TB table is one tiny version publish — zero
    * bytes rewritten, and time travel shows each version under the
    * names IT had. `renames` maps physical→logical for renamed
    * columns; `dropped` lists physical names hidden from every read
    * (the bytes stay in old files, invisible; new files simply omit
    * them). [[materializeMapping]] bakes a mapping into a full
    * rewrite when a writer needs identity (the Delta REORG shape).
    */
  final case class ColMap(renames: Seq[(String, String)] = Nil,
                          dropped: Seq[String] = Nil) {
    def isIdentity: Boolean = renames.isEmpty && dropped.isEmpty
    /** Logical name of a physical field — None when dropped. */
    def logicalOf(phys: String): Option[String] =
      if (dropped.contains(phys)) None
      else Some(renames.collectFirst { case (p, l) if p == phys => l }
        .getOrElse(phys))
    /** Physical field behind a logical name. */
    def physicalOf(logical: String): String =
      renames.collectFirst { case (p, l) if l == logical => p }
        .getOrElse(logical)
  }

  /** Version metadata. Exactly one of `dataDir` / `manifest` is set:
    * a WHOLE-DIR version ([[commit]]/[[optimize]] — the snapshot is
    * one writer-unique immutable dir) or a MANIFEST version
    * ([[append]]/[[merge]]/[[deleteRange]] — the snapshot is an
    * explicit FILE LIST that can reference files across many older
    * dirs, which is what makes copy-on-write metadata-only for the
    * untouched fraction). `tag` is an optional idempotency token
    * (the streaming ingest records its micro-batch id here — see
    * [[lastTag]]).
    */
  final case class VMeta(dataDir: Option[String], manifest: Option[String],
                         nRows: Long, tag: Option[Long],
                         schemaDdl: Option[String] = None,
                         dv: Option[String] = None,
                         constraints: Seq[(String, String)] = Nil,
                         parts: Seq[String] = Nil,
                         bucket: Option[Bucketing] = None,
                         colmap: ColMap = ColMap(),
                         tombstone: Boolean = false,
                         copyRef: Option[String] = None) {
    /** Stable identifier of the version's file LAYOUT — the key the
      * per-version stats index is stored under. A rollback republishes
      * the same layout id, so its stats are reused with zero work.
      */
    def layoutId: String = dataDir.map(_.stripPrefix("data/"))
      .orElse(manifest.map(_.stripPrefix("manifests/").stripSuffix(".txt")))
      .getOrElse(throw new IllegalStateException("empty version meta"))
  }

  /** Test-observable counter of version-file reads — the spec hook
    * pinning [[lastTag]]'s early-stop cost model.
    */
  private[graft] val metaReads = new java.util.concurrent.atomic.AtomicLong

  /** The metadata of committed version `v`, decoded by
    * [[VersionLog.decode]] (which refuses a malformed body or one
    * demanding an unknown format feature).
    */
  def versionMeta(spark: SparkSession, root: String, v: Long): VMeta = {
    metaReads.incrementAndGet()
    val vf = versionFile(root, v)
    val f = fs(spark, vf)
    require(f.exists(vf), s"$root has no committed version $v")
    VersionLog.decode(readUtf8(f, vf), vf.toString)
  }

  /** Refuse an operation on a DROPPED table (latest version is a
    * tombstone — see [[dropTable]]). Pre-drop versions stay readable
    * by explicit version until [[vacuum]] reclaims them; RESTORE
    * (rollback to a pre-drop version) is the undrop.
    */
  private[graft] def requireLive(m: VMeta, root: String, op: String): Unit =
    require(!m.tombstone,
      s"$op: $root is DROPPED (tombstone at the latest version) — " +
        "RESTORE to a pre-drop version, or CREATE [OR REPLACE] it anew")

  // --- aggregate history checkpoint: O(tail) audit reads ---

  /** One version's rolled-up audit row — everything [[history]] and
    * [[fileLineage]] need without re-opening the version file.
    * `ref` is the layout reference (data dir or manifest, root-
    * relative); `layout` is `dir`/`manifest`/`unsupported(features)`.
    */
  private[graft] final case class CkptRow(v: Long, layout: String, ref: String,
                                   nRows: Long, tag: Option[Long],
                                   hasDv: Boolean, nCons: Int,
                                   copyRef: Option[String] = None)

  private def ckptFile(root: String) = new Path(versionsDir(root), "_ckpt")

  private def rowOf(spark: SparkSession, root: String, v: Long): CkptRow =
    // the audit verbs stay usable after a partial format downgrade:
    // a version demanding an unknown format feature cannot be READ
    // (the reader-version gate), but its history ROW is still honest
    // metadata — Delta keeps DESCRIBE HISTORY viewable past its own
    // reader-version gate for the same reason
    try {
      val m = versionMeta(spark, root, v)
      CkptRow(v,
        if (m.tombstone) "tombstone"
        else if (m.dataDir.isDefined) "dir" else "manifest",
        m.dataDir.orElse(m.manifest).get, m.nRows, m.tag,
        m.dv.isDefined, m.constraints.size, m.copyRef)
    } catch {
      case e: IllegalArgumentException
          if e.getMessage != null &&
            e.getMessage.contains("requires format features") =>
        CkptRow(v, "unsupported(features)", "", -1L, None, false, 0)
    }

  /** Read the rolled-up rows — per-LINE tolerant: a torn or
    * unparseable line is simply absent from the map (its version
    * re-derives from the version file), never an error.
    */
  private def readCkpt(f: FileSystem, root: String): Map[Long, CkptRow] =
    try {
      val cf = ckptFile(root)
      if (!f.exists(cf)) Map.empty
      else {
        readUtf8(f, cf).split('\n').iterator.flatMap(VersionLog.decodeCkpt)
          .map(r => r.v -> r).toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Best-effort rewrite (a failed write costs the next audit call
    * its tail reads again, never correctness — the rows are pure
    * derivations of immutable version files, so last-writer-wins
    * between concurrent audits is safe).
    */
  private def writeCkpt(f: FileSystem, root: String,
                        rows: Seq[CkptRow]): Unit =
    try {
      val body = rows.sortBy(_.v).map(VersionLog.encodeCkpt).mkString("\n")
      val out = f.create(ckptFile(root), true)
      try out.write(body.getBytes("UTF-8"))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The audit rows for every listed version — ONE checkpoint read
    * plus version-file reads for just the uncheckpointed TAIL
    * (Delta's checkpoint+tail shape: [[history]]/[[fileLineage]] on a
    * 10⁵-commit log read one file, not 10⁵). Self-maintaining: any
    * derived tail rows extend the checkpoint (and vacuumed versions'
    * rows prune out) on the way back, so the next audit is O(1).
    * Unsupported-feature rows are never checkpointed — a library
    * upgrade that learns the feature must re-derive them honestly.
    */
  private def historyRows(spark: SparkSession, root: String): Seq[CkptRow] = {
    val listed = versions(spark, root)
    val listedSet = listed.toSet
    val f = fs(spark, ckptFile(root))
    val ckpt = readCkpt(f, root)
    var derived = false
    val rows = listed.map(v => ckpt.getOrElse(v, {
      derived = true; rowOf(spark, root, v)
    }))
    if (derived || ckpt.keysIterator.exists(k => !listedSet.contains(k)))
      writeCkpt(f, root,
        rows.filter(_.layout != "unsupported(features)"))
    rows
  }

  /** DESCRIBE HISTORY for the snapshot tier: one row per committed
    * version — (version, layout kind, logical row count, idempotency
    * tag, merge-on-read vector present, constraint count) — derived
    * from the version log ALONE (no data opened), read through the
    * aggregate checkpoint ([[historyRows]]): one checkpoint read plus
    * the uncheckpointed tail, not O(#versions) file reads. The audit
    * surface every table format exposes; here it is exact because
    * every writer records `n_rows` at publish time.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    historyRows(spark, root)
      .map(r => (r.v, r.layout, r.nRows, r.tag, r.hasDv, r.nCons))
      .toDF("version", "layout", "n_rows", "tag", "has_dv", "n_constraints")
  }

  /** Commit `df` as the next version of `root`; returns the new
    * version number. MULTI-WRITER SAFE (Delta-style optimistic
    * concurrency): the snapshot data lands under a writer-UNIQUE
    * dir — never a version-numbered one, so two concurrent
    * committers can never overwrite each other's data — and the
    * version file's atomic create-by-rename is the ONLY
    * serialization point. A writer that loses the publish race
    * simply re-publishes at the next version number (its data dir
    * is untouched); conflict cost is one tiny metadata retry,
    * never a data rewrite. The result is a linear history in which
    * every concurrent commit lands as SOME version — the same
    * contract Delta's commit protocol gives on a transaction-log
    * conflict with no data conflict.
    */
  def commit(spark: SparkSession, df: DataFrame, root: String,
             partitionBy: Seq[String] = Nil,
             bucketBy: Option[Bucketing] = None): Long = {
    // a full-replace commit still writes ROWS into a constrained
    // table — same CHECK gate as append (no-op on a fresh table)
    val cons = constraintsOf(spark, root)
    requireSatisfied(df, cons, "commit")
    // the partition AND bucket layouts are TABLE properties: an
    // overwrite that does not name one INHERITS the existing layout
    // (Delta's semantics — otherwise a plain INSERT OVERWRITE would
    // silently strip the layout from the log for every later
    // writer). Passing an explicit partitionBy/bucketBy redefines it
    // — and a full replace is the ONE commit shape that may, since
    // it rewrites every file into the new layout.
    val priorMeta = latestVersion(spark, root)
      .map(v => versionMeta(spark, root, v))
    // a plain full replace must not silently revive a DROPPED table —
    // that is CREATE [OR REPLACE]'s explicit job
    priorMeta.foreach(requireLive(_, root, "commit"))
    val effParts =
      if (partitionBy.nonEmpty) partitionBy
      else priorMeta.map(_.parts).getOrElse(Nil)
    val effBucket = bucketBy.orElse(priorMeta.flatMap(_.bucket))
    effParts.foreach(c => require(df.columns.contains(c),
      s"partition column $c is not a column of the batch"))
    effParts.foreach(requireLoggable(_, "partition column"))
    val (dataDir, nRows) = writeDataDir(spark, df, root, effParts, effBucket)
    // schema-in-the-log from the first commit: every later reader —
    // and every append's schema check — plans from the version
    // metadata instead of sampling parquet footers
    val ddl = loggedDdl(df.schema)
    publishNext(spark, root, VersionLog.encode(_, VMeta(Some(dataDir), None,
      nRows, None, Some(ddl), constraints = cons, parts = effParts,
      bucket = effBucket)))
  }

  /** EXCLUSIVE birth verb (`CREATE TABLE` semantics): commit `df` as
    * the table's FIRST version — published at exactly version 1 (or
    * the tombstone's successor when reviving a dropped table), so two
    * racing CREATEs can never both "succeed" with the loser silently
    * landing as a full replace: exactly one wins the version slot,
    * the other refuses loudly and deletes its staged dir. No layout
    * inheritance — a CREATE fully defines its table. Unlike
    * [[commit]]'s publishNext, the publish here NEVER retries at the
    * next number: the retry is precisely the silent replace the verb
    * promises not to do.
    */
  def create(spark: SparkSession, df: DataFrame, root: String,
             partitionBy: Seq[String] = Nil,
             bucketBy: Option[Bucketing] = None): Long = {
    val prior = latestVersion(spark, root)
    val priorMeta = prior.map(v => versionMeta(spark, root, v))
    require(priorMeta.forall(_.tombstone),
      s"CREATE TABLE: $root already has committed versions — " +
        "use CREATE OR REPLACE to replace it")
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"partition column $c is not a column of the batch"))
    partitionBy.foreach(requireLoggable(_, "partition column"))
    val (dataDir, nRows) = writeDataDir(spark, df, root, partitionBy, bucketBy)
    val ddl = loggedDdl(df.schema)
    val target = prior.getOrElse(0L) + 1
    fireRaceHook()
    if (!tryPublish(spark, root, target, VersionLog.encode(target,
        VMeta(Some(dataDir), None, nRows, None, Some(ddl),
          parts = partitionBy, bucket = bucketBy)), None)) {
      fs(spark, new Path(root, dataDir)).delete(new Path(root, dataDir), true)
      throw new IllegalStateException(
        s"CREATE TABLE: $root was created concurrently (version $target " +
          "is already committed) — a CREATE never replaces; re-read or " +
          "use CREATE OR REPLACE")
    }
    target
  }

  /** `CREATE OR REPLACE TABLE` — a FULL-REPLACE commit that works on
    * a live, dropped, or not-yet-existing table: history is preserved
    * (old versions stay time-travel-readable until [[vacuum]]), and
    * the statement REDEFINES the table — layouts come from the call
    * alone (no inheritance) and prior CHECK constraints do not carry
    * (the replace defines a new table in place, Delta's semantics).
    * The re-runnable form of a CTAS pipeline.
    */
  def replaceTable(spark: SparkSession, df: DataFrame, root: String,
                   partitionBy: Seq[String] = Nil,
                   bucketBy: Option[Bucketing] = None): Long = {
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"partition column $c is not a column of the batch"))
    partitionBy.foreach(requireLoggable(_, "partition column"))
    val (dataDir, nRows) = writeDataDir(spark, df, root, partitionBy, bucketBy)
    val ddl = loggedDdl(df.schema)
    publishNext(spark, root, VersionLog.encode(_, VMeta(Some(dataDir), None,
      nRows, None, Some(ddl), parts = partitionBy, bucket = bucketBy)))
  }

  /** `DROP TABLE` — a TOMBSTONE version: metadata-only death, exactly
    * like every other lifecycle verb here. The tombstone is an empty
    * manifest version demanding the `tombstone` format feature, so
    * (a) every read and write verb on the latest refuses loudly
    * ([[requireLive]]) rather than seeing an empty table, (b) an
    * OLDER library refuses too (the reader-version gate) instead of
    * mis-reading, (c) pre-drop versions stay explicitly readable and
    * RESTORE (rollback to one) is the undrop, and (d) physical
    * reclaim is the EXISTING vacuum machinery — the tombstone pins no
    * data, so `vacuum(keepLast = 1)` reclaims everything below it.
    */
  def dropTable(spark: SparkSession, root: String): Long =
    occPublish[Long](spark, root, "DROP TABLE") { at =>
      at.m // refuses a table with no version (requireLive a dropped one)
      val man = writeManifest(spark, root, Nil)
      Right(Publish(VMeta(None, Some(man), 0L, None, tombstone = true),
        identity, staged = Seq(man)))
    }

  /** Path key a partition column is laid out under. The partition
    * value is DUPLICATED into this path-only column at write time
    * (the data files keep every original column — "hybrid" layout),
    * so every explicit-file-list consumer (manifest reads, CDF,
    * merge rewrites, shallow clones) stays correct with no partition
    * reconstruction, while the `k=v` dirs give the planner exact
    * first-line partition pruning from path metadata alone
    * ([[graft.plans.SnapshotFileIndex]]). Cost: the partition column
    * stored twice — bytes in the files (RLE'd to ~nothing for the
    * low-cardinality columns partitioning is for) plus the dir name.
    */
  private[graft] def partKey(c: String): String = s"__p_$c"

  /** Write `df` into a fresh writer-unique data dir under `root`;
    * returns (relative data dir, row count). n_rows rides the write
    * itself (Observation = a named accumulator over the rows the
    * writer actually emits) — no second listing + count job over
    * what, at target scale, is millions of fresh files. With `parts`
    * set the dir is laid out Hive-style on the duplicated partition
    * keys (see [[partKey]]).
    */
  private def writeDataDir(spark: SparkSession, df: DataFrame,
                           root: String,
                           parts: Seq[String] = Nil,
                           bucket: Option[Bucketing] = None): (String, Long) = {
    val dataDir = s"data/c-${java.util.UUID.randomUUID().toString.take(13)}"
    val dataPath = new Path(root, dataDir)
    val obs = org.apache.spark.sql.Observation(
      s"graft_commit_${java.util.UUID.randomUUID().toString.take(8)}")
    // bucketed layout: the explicit-count hash repartition places each
    // row at pmod(murmur3(cols), n) — EXACTLY Spark's bucket-id
    // function — so the writing task's partition index IS the row's
    // bucket id and [[tagBucketFiles]] can stamp it into the file
    // name afterwards. The explicit count keeps AQE from coalescing
    // the shuffle (bucket identity is positional).
    val shaped = bucket match {
      case Some(b) =>
        (b.cols ++ b.sort).distinct.foreach(c =>
          require(df.columns.contains(c),
            s"bucket column $c is not a column of the batch"))
        val rep = df.repartition(b.n, b.cols.map(col): _*)
        if (b.sort.isEmpty) rep
        else rep.sortWithinPartitions(b.sort.map(col): _*)
      case None => df
    }
    val out = parts.foldLeft(shaped)((d, c) => d.withColumn(partKey(c), col(c)))
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_rows"))
      .write.mode("overwrite")
    (if (parts.isEmpty) out else out.partitionBy(parts.map(partKey): _*))
      .parquet(dataPath.toString)
    bucket.foreach(_ => tagBucketFiles(spark, dataPath))
    (dataDir, obs.get("n_rows").asInstanceOf[Long])
  }

  /** Stamp a freshly written dir's part files with Spark's bucket tag
    * (`part-00007-<uuid>-c000.snappy.parquet` →
    * `part-00007-<uuid>-c000_00007.snappy.parquet`): the writer task's
    * partition index is the bucket id (see [[writeDataDir]]), and the
    * scan side parses the `_(\d+)` suffix back with the built-in
    * BucketingUtils convention. One rename RPC per file — bounded by
    * n × partition dirs (the layout), never by data volume.
    */
  private def tagBucketFiles(spark: SparkSession, dir: Path): Unit = {
    val f = fs(spark, dir)
    val PartRe = "^part-(\\d+)-.*".r
    val TaggedRe = "^[^.]*_\\d{5}(?:\\..*)?$".r
    // materialize the FULL listing before any rename: paged listings
    // (HDFS/S3A RemoteIterator) can resurface a renamed entry or
    // throw FileNotFoundException on a stale page if the dir mutates
    // mid-iteration — a double-stamp or a failed write after the
    // data landed
    val all = {
      val it = f.listFiles(dir, true)
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) buf += it.next()
      buf.toSeq
    }
    all.foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet") &&
          TaggedRe.findFirstIn(name).isEmpty) name match {
        case PartRe(id) =>
          val dot = name.indexOf('.')
          val tagged =
            if (dot < 0) f"${name}_${id.toInt}%05d"
            else f"${name.substring(0, dot)}_${id.toInt}%05d${name.substring(dot)}"
          require(f.rename(st.getPath, new Path(st.getPath.getParent, tagged)),
            s"failed to stamp bucket tag on $name")
        case _ => ()
      }
    }
  }

  /** Publish a version body at the next free version number, retrying
    * past publish races (shared by [[commit]], [[replaceTable]],
    * [[rollback]] and the catalog — writers whose output does NOT
    * depend on the version they read). Every state-dependent writer
    * publishes at exactly readVersion+1 through [[occPublish]]
    * instead.
    */
  private[etl] def publishNext(spark: SparkSession, root: String,
                          mkBody: Long => String): Long = {
    var v = latestVersion(spark, root).getOrElse(0L) + 1
    var attempts = 0
    while (!tryPublish(spark, root, v, mkBody(v), None)) {
      attempts += 1
      require(attempts < 1000, s"$root: lost $attempts publish races — livelock?")
      v = math.max(v + 1, latestVersion(spark, root).getOrElse(0L) + 1)
    }
    v
  }

  /** The version an [[occPublish]] attempt read as the latest. `meta`
    * is None only on a table with no version yet, which [[append]]
    * alone may start; every other writer reads [[m]], which refuses
    * there.
    */
  private final class Latest(root: String, val v: Long,
                             val meta: Option[VMeta]) {
    def m: VMeta = meta.getOrElse(
      throw new IllegalArgumentException(s"$root has no committed versions"))
  }

  /** What an [[occPublish]] attempt publishes at readVersion+1.
    *
    *  - `meta`: the new version;
    *  - `done`: the writer's receipt, run once the publish has won
    *    (post-publish work such as the stats index rides here);
    *  - `staged`: this attempt's own files (a manifest, a vector),
    *    deleted when the publish loses;
    *  - `retained`: files a lost attempt hands to the next one (a
    *    staged rewrite a re-base reuses, [[append]]'s fresh dir),
    *    deleted when the statement ends without publishing them;
    *  - `rebase`: offered the next attempt's latest first. Some = a
    *    publish reusing `retained`; None = `retained` is deleted, the
    *    re-stage counted, and the writer plans afresh.
    */
  private final case class Publish[R](meta: VMeta, done: Long => R,
      staged: Seq[String] = Nil, retained: Seq[String] = Nil,
      rebase: Option[VMeta => Option[Publish[R]]] = None)

  /** THE readVersion+1 publish loop of every state-dependent writer
    * (the copy-on-write [[commitDelta]] writers, [[append]],
    * [[deleteWhere]]/[[updateWhere]], the metadata-only DDL verbs and
    * [[dropTable]]). Per attempt it resolves the latest version (the
    * first attempt reuses a caller's `hint` — one metadata read per
    * statement; a stale hint just loses the race), refuses a dropped
    * table ([[requireLive]]) and a stale `tag`
    * ([[requireTagMonotonic]]), and lets the writer `plan` against
    * it: `Left` is a no-op receipt, `Right` a [[Publish]]. The
    * publish lands at EXACTLY readVersion+1 — what the writer planned
    * is a function of the version it read, so a concurrent commit
    * landing first fails the publish instead of being silently
    * overwritten or dropped. A lost race deletes the attempt's staged
    * files and re-plans against the new latest (after a re-base
    * attempt, when the writer offers one); any refusal and the
    * exhausted attempt budget delete what the writer retained.
    */
  private def occPublish[R](spark: SparkSession, root: String, what: String,
      tag: Option[Long] = None, hint: Option[(Long, VMeta)] = None)
      (plan: Latest => Either[R, Publish[R]]): R = {
    def remove(rel: String): Unit =
      fs(spark, new Path(root, rel)).delete(new Path(root, rel), true)
    var first = hint
    var lost: Option[Publish[R]] = None
    var attempts = 0
    while (true) {
      val (v, step, rebased) = try {
        val (v, meta) = first match {
          case Some((hv, hm)) => (hv, Some(hm))
          case None => latestVersion(spark, root) match {
            case Some(lv) => (lv, Some(versionMeta(spark, root, lv)))
            case None => (0L, None)
          }
        }
        first = None
        meta.foreach(requireLive(_, root, what))
        requireTagMonotonic(spark, root, tag, what)
        val based = for (l <- lost; rb <- l.rebase; m <- meta; p <- rb(m))
          yield p
        if (based.isEmpty) lost.filter(_.rebase.nonEmpty).foreach { l =>
          l.retained.foreach(remove)
          restages.incrementAndGet()
          lost = None
        }
        val step: Either[R, Publish[R]] =
          based.map(Right(_)).getOrElse(plan(new Latest(root, v, meta)))
        (v, step, based.nonEmpty)
      } catch {
        case e: Throwable =>
          lost.foreach(_.retained.foreach(remove))
          throw e
      }
      step match {
        case Left(noop) => return noop
        case Right(p) =>
          fireRaceHook()
          if (tryPublish(spark, root, v + 1, VersionLog.encode(v + 1, p.meta),
              p.meta.tag)) {
            if (rebased) rebases.incrementAndGet()
            return p.done(v + 1)
          }
          p.staged.foreach(remove)
          attempts += 1
          if (attempts >= 100) p.retained.foreach(remove)
          require(attempts < 100, s"$root: $what lost $attempts commit races")
          lost = Some(p)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def fireRaceHook(): Unit =
    racePublishHook.foreach { h => racePublishHook = None; h() }

  /** Spec-only deterministic race injection: runs ONCE, at the next
    * publish point that fires it — [[occPublish]]'s, after the
    * writer's staging and before its readVersion+1 publish (so every
    * state-dependent writer's lost-race path is reachable), and the
    * exclusive first-slot publishes of [[create]] and
    * [[cloneShallow]].
    */
  private[graft] var racePublishHook: Option[() => Unit] = None

  /** Attempt to publish `body` as version `v`: write to a
    * writer-unique temp name in the same dir, then promote with
    * CREATE-EXCLUSIVE semantics — exactly one writer wins a version
    * number; readers see either no version or a complete one.
    * Returns false on a lost race (destination already committed by
    * another writer). `tag` is the idempotency tag `body` carries,
    * which a won publish records in the hint.
    *
    * The promote step is filesystem-aware because plain rename is
    * NOT create-exclusive everywhere: POSIX rename(2) — what the
    * local FS delegates to — silently REPLACES an existing
    * destination, which would let two concurrent committers both
    * "win" version v, one of them silently losing its commit. On the
    * local FS the promote is therefore `link(2)` (atomic, fails
    * EEXIST if the destination exists); on HDFS-like filesystems
    * `FileSystem.rename` already fails when the destination exists
    * and stays the promote step.
    */
  private[etl] def tryPublish(spark: SparkSession, root: String, v: Long,
                         body: String, tag: Option[Long]): Boolean = {
    val vf = versionFile(root, v)
    val f = fs(spark, vf)
    f.mkdirs(vf.getParent)
    if (f.exists(vf)) return false
    val tmp = new Path(vf.getParent,
      s".${vf.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    val won =
      if (f.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(vf.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          f.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            f.delete(tmp, false); false // lost the race — caller retries at v+1
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            // file:// mounts without hard-link support (some network /
            // overlay filesystems): fall back to the rename promote with
            // an exists re-check — a narrower race window than link(2)'s
            // EEXIST guarantee, but never a spuriously failing commit
            renamePromote(f, tmp, vf)
        }
      } else renamePromote(f, tmp, vf)
    // every successful publish refreshes the listing floor — the ONE
    // funnel all writers share (see [[latestVersion]]) — and, when
    // the max-tag-at-this-version is exactly known, the tag
    // checkpoint [[lastTag]] reads
    if (won) {
      val prior = readHint(f, hintFile(root))
      // a hint at or past this version is fresher — leave it (its
      // claim already covers this publish; overwriting would only
      // regress the floor)
      if (!prior.exists(_._1 >= v)) {
        // a TAGGED publish knows the new max exactly (the tag-
        // monotonicity gate ran against this very version slot); an
        // untagged one carries the prior claim forward directly when
        // the prior hint is the immediately preceding version, and
        // through a BOUNDED PROBE of the gap versions' own tags when
        // it lags further behind (≤64 tiny reads, off the warm path)
        // — a mixed tagged/untagged writer workload keeps the O(1)
        // replay guard instead of re-paying listings until the next
        // tagged publish. An unreadable gap version or a wider gap
        // drops the claim (never a wrong one); [[lastTag]] then
        // degrades to the listing walk until a tagged publish
        // re-seeds it.
        val hintTag = tag.orElse(prior match {
          case Some((h, Some(t))) if h == v - 1 => Some(t)
          case Some((h, Some(t))) if h < v - 1 && v - 1 - h <= 64 =>
            try {
              val gapTags = ((h + 1) until v).flatMap(gv =>
                versionMeta(spark, root, gv).tag)
              Some((gapTags :+ t).max)
            } catch { case scala.util.control.NonFatal(_) => None }
          case _ => None
        })
        writeHint(f, root, v, hintTag)
      }
      // CHECKPOINT CADENCE (Delta's every-N-commits shape): every
      // 64th version folds the log into the audit checkpoint, so even
      // a table that never ran an audit pays O(≤64 tail) on its FIRST
      // history/fileLineage call instead of O(#commits) — amortized
      // one tail meta read per commit. Best-effort like the hint: a
      // failure costs the next audit its tail reads, never a commit.
      if (v % 64 == 0)
        try historyRows(spark, root)
        catch { case scala.util.control.NonFatal(_) => () }
    }
    won
  }

  /** HDFS-style promote: `FileSystem.rename` fails when the
    * destination exists, so the rename itself is the commit point;
    * a lost race surfaces as rename-failed + destination-present.
    */
  private def renamePromote(f: FileSystem, tmp: Path, vf: Path): Boolean =
    if (f.rename(tmp, vf)) true
    else {
      f.delete(tmp, false)
      if (f.exists(vf)) false // lost the race — caller retries at v+1
      else throw new IllegalStateException(s"could not publish $vf")
    }

  // --- manifest versions: explicit file lists for copy-on-write ---

  private def rootPathOf(spark: SparkSession, root: String): String = {
    val p = new Path(root)
    fs(spark, p).makeQualified(p).toUri.getPath
  }

  /** Root-relative form of an absolute file URI/path. A file OUTSIDE
    * the root (a [[cloneShallow]] reference into another table's data)
    * stays ABSOLUTE — `Path(root, child)` resolves an absolute child
    * to itself, so every consumer reads it unchanged.
    */
  private def relOf(spark: SparkSession, root: String, abs: String): String = {
    val p = StatsIndex.normPath(abs)
    val rootP = rootPathOf(spark, root)
    if (p.startsWith(rootP + "/")) p.stripPrefix(rootP).stripPrefix("/") else p
  }

  /** Write the file list of a manifest version — one root-relative
    * path per line, writer-unique name; fully written BEFORE its
    * version publishes (the same data-before-metadata discipline as
    * the data dirs). Driver-held file list, like Delta's log: at
    * millions of files this is ~100 MB of metadata, the same object
    * every scan plans with.
    */
  private def writeManifest(spark: SparkSession, root: String,
                            relFiles: Seq[String]): String = {
    val rel = s"manifests/m-${java.util.UUID.randomUUID().toString.take(13)}.txt"
    val p = new Path(root, rel)
    val f = fs(spark, p)
    f.mkdirs(p.getParent)
    val out = f.create(p, false)
    try out.write(relFiles.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    rel
  }

  private def readManifest(spark: SparkSession, root: String,
                           rel: String): Seq[String] = {
    val p = new Path(root, rel)
    val f = fs(spark, p)
    require(f.exists(p), s"missing manifest $p")
    readUtf8(f, p).split('\n').iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** The version's data files as root-RELATIVE paths: a dir version
    * lists its (immutable) dir once; a manifest version reads its
    * file list — metadata either way.
    */
  private def relFilesOf(spark: SparkSession, root: String, m: VMeta): Seq[String] =
    m.manifest match {
      case Some(man) => readManifest(spark, root, man)
      case None =>
        // relOf keeps intermediate `k=v` segments of partitioned dirs
        StatsIndex.listDataFiles(spark, new Path(root, m.dataDir.get).toString)
          .map(abs => relOf(spark, root, abs))
    }

  /** The version's data files as absolute paths. */
  def filesOfVersion(spark: SparkSession, root: String, v: Long): Seq[String] = {
    val m = versionMeta(spark, root, v)
    relFilesOf(spark, root, m).map(rel => new Path(root, rel).toString)
  }

  /** The table's current LOGICAL schema from the version log alone —
    * no data file opened, so it works on a freshly created
    * still-empty table (the CREATE-then-INSERT workflow).
    */
  def tableSchema(spark: SparkSession, root: String,
                  op: String = "tableSchema")
      : org.apache.spark.sql.types.StructType = {
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"$root has no committed versions"))
    tableSchemaOf(spark, root, v, versionMeta(spark, root, v), op)
  }

  /** [[tableSchema]] over an ALREADY-FETCHED (version, meta) pair —
    * callers holding the meta (the SQL MERGE router's single probe)
    * compute the logical schema without a second metadata read.
    */
  private[graft] def tableSchemaOf(spark: SparkSession, root: String,
                                   v: Long, m: VMeta, op: String)
      : org.apache.spark.sql.types.StructType = {
    // `op` names the CALLING verb in the tombstone refusal — a MERGE
    // probing the schema of a dropped table must refuse as MERGE,
    // not under this helper's name
    requireLive(m, root, op)
    val phys = schemaOf(spark, root, m)
    org.apache.spark.sql.types.StructType(
      phys.fields.flatMap(f => m.colmap.logicalOf(f.name)
        .map(l => f.copy(name = l))))
  }

  // --- the one opener of a version's data files ---

  /** Version `m`'s physical schema: the logged one, or — for a
    * version written before schema-in-the-log — the Spark schema in
    * its first data file's footer (never through [[openScan]], which
    * needs this schema).
    */
  private def schemaOf(spark: SparkSession, root: String,
                       m: VMeta): org.apache.spark.sql.types.StructType =
    m.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL).getOrElse {
      val first = fileStatusesOf(spark, root, relFilesOf(spark, root, m).take(1))
      first.headOption
        .flatMap(Load.sparkSchema(_, spark.sparkContext.hadoopConfiguration))
        .map(asNullable)
        .getOrElse(throw new IllegalArgumentException(
          s"$root: layout ${m.layoutId} logs no schema and has no Spark-written data file"))
    }

  /** THE opener of a version's data files — every reader and writer
    * of the tier scans through it. A parquet relation over a
    * [[graft.plans.SnapshotFileIndex]] of exactly `rels` (statuses
    * from [[fileStatusesOf]]: one listing RPC per parent dir) under
    * `schema`, the version's logged schema ([[schemaOf]]; a caller
    * reading a set of files under a newer version's schema passes
    * that one). Opening therefore runs no listing job and no schema
    * job at any file count; files written before an evolution surface
    * added columns as NULL and narrower types read up (parquet by-name
    * resolution). Zero files open as an empty frame under `schema`
    * whose `_metadata` columns still resolve. `stats`, `parts` and
    * `bucket` are [[sqlScan]]'s planner extras.
    *
    * These rows are PHYSICAL: the rows the files hold, deletion vector
    * ignored — what a stats build counts (`n_rows` is per-file
    * physical). [[logical]] applies a version's vector on top.
    */
  private def openScan(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType, rels: Seq[String],
      stats: Option[DataFrame] = None, parts: Seq[String] = Nil,
      bucket: Option[Bucketing] = None)
      : (DataFrame, graft.plans.SnapshotFileIndex) = {
    import org.apache.spark.sql.GraftShim
    val idx = new graft.plans.SnapshotFileIndex(spark,
      new Path(rootPathOf(spark, root)), fileStatusesOf(spark, root, rels),
      stats, parts)
    val spec = bucket.map(b =>
      org.apache.spark.sql.catalyst.catalog.BucketSpec(b.n, b.cols, b.sort))
    (GraftShim.ofRows(spark, GraftShim.parquetScanPlan(spark, idx, schema, spec)),
      idx)
  }

  /** [[openScan]]'s physical rows of `rels`. */
  private def physical(spark: SparkSession, root: String,
                       schema: org.apache.spark.sql.types.StructType,
                       rels: Seq[String]): DataFrame =
    openScan(spark, root, schema, rels)._1

  /** `raw` (an [[openScan]] frame) plus each row's identity: `__file`
    * (root-relative, from `_metadata.file_path`) and `__pos`
    * (`_metadata.row_index`, stable because the files are immutable) —
    * the key deletion vectors are stored under.
    */
  private def withRowId(spark: SparkSession, root: String,
                        raw: DataFrame): DataFrame =
    raw.withColumn("__file", org.apache.spark.sql.functions.regexp_replace(
        StatsIndex.normPath(col("_metadata.file_path")),
        "^" + java.util.regex.Pattern.quote(rootPathOf(spark, root) + "/"), ""))
      .withColumn("__pos", col("_metadata.row_index"))

  /** The LOGICAL rows of `raw` (an [[openScan]] frame) as of version
    * `m`: merge-on-read drops the rows whose identity ([[withRowId]])
    * the version's deletion vector names — an anti-join keyed on scan
    * metadata (Delta's DV application in the scan; AQE broadcasts the
    * small vector side), so no data column is sacrificed and the files
    * stay byte-identical. `keepId` keeps `__file`/`__pos` after the
    * data columns, for callers that address rows by position.
    */
  private def logical(spark: SparkSession, root: String, m: VMeta,
                      raw: DataFrame, keepId: Boolean = false): DataFrame =
    if (m.dv.isEmpty && !keepId) raw
    else {
      val ided = withRowId(spark, root, raw)
      val live = if (m.dv.isEmpty) ided
        else ided.join(dvOf(spark, root, m).select(col("file").as("__file"),
          col("pos").as("__pos")), Seq("__file", "__pos"), "left_anti")
      live.select((raw.columns.toSeq ++
        (if (keepId) Seq("__file", "__pos") else Nil)).map(col): _*)
    }

  /** Read the table at `version` (default: latest). Old versions
    * remain readable after later commits — the time-travel read.
    * Manifest versions read exactly their file list (untouched files
    * from older dirs plus the version's own rewritten files); an empty
    * one (a zero-row CTAS, a SHOW CREATE replay) reads as its logged
    * schema.
    */
  def read(spark: SparkSession, root: String,
           version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, root)).getOrElse(
      throw new IllegalArgumentException(s"$root has no committed versions"))
    val m = versionMeta(spark, root, v)
    requireLive(m, root, "read")
    // the column mapping presents the version's LOGICAL names on top
    // ([[renameColumn]]/[[dropColumn]])
    logicalProject(logical(spark, root, m, physical(spark, root,
      schemaOf(spark, root, m), relFilesOf(spark, root, m))), m.colmap)
  }

  /** `TIMESTAMP AS OF` time travel: the largest committed version
    * whose version file's modification time is <= `tsMillis` — the
    * log IS the clock (Delta resolves timestamps from commit-file
    * timestamps the same way). One directory listing, no file
    * contents read. Monotonicity holds because versions publish in
    * order; sub-resolution ties resolve to the larger version via
    * `max`.
    */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val dir = versionsDir(root)
    val f = fs(spark, dir)
    require(f.exists(dir), s"$root has no committed versions")
    val cands = f.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VFILE(n) if st.getModificationTime <= tsMillis => Some(n.toLong)
        case _ => None
      }
    }
    require(cands.nonEmpty, s"$root has no version at or before $tsMillis")
    cands.max
  }

  /** Metadata-only undo: publish a NEW version whose data (dir or
    * file list) is version `to`'s. History stays linear and
    * append-only (the bad version remains inspectable), and no data
    * is copied. The idempotency `tag` is NOT propagated — a rollback
    * is not a re-ingest of the batch that produced the target.
    */
  def rollback(spark: SparkSession, root: String, to: Long): Long = {
    // metadata-only all the way: the target version file already
    // records its n_rows, so the undo triggers no read of the data
    val m = versionMeta(spark, root, to)
    publishNext(spark, root, VersionLog.encode(_, m.copy(tag = None)))
  }

  /** Make [[lastTag]]'s early-stop invariant REAL at the write
    * boundary: a tagged commit must carry a tag STRICTLY above every
    * committed one. Without this, a zombie writer racing its
    * restarted replacement could land tags out of version order and
    * the newest-tagged-version read would under-report — re-running
    * a batch the guard exists to skip. The check composes with the
    * readVersion+1 publish: a tagged competitor landing between this
    * check and the publish fails the publish, and the retry
    * re-checks.
    */
  private def requireTagMonotonic(spark: SparkSession, root: String,
                                  tag: Option[Long], what: String): Unit =
    tag.foreach(t => require(!lastTag(spark, root).exists(_ >= t),
      s"$root: $what tag $t is not newer than the last committed tag " +
        "— a replayed or out-of-order batch (check lastTag before writing)"))

  /** The largest idempotency tag any committed version carries —
    * the streaming ingest's replay guard ([[append]]'s `tag` records
    * the micro-batch id; a crash-replayed or fresh-checkpoint-replayed
    * batch sees its id already committed and skips).
    *
    * CHECKPOINT + TAIL (the Delta `_last_checkpoint` read shape): the
    * guard runs INSIDE every micro-batch — twice, as the replay guard
    * and again in [[requireTagMonotonic]] — so on a version-per-batch
    * table (q171's shape at 10⁵ commits) even one full log LISTING
    * per batch compounds. The hint file's tag claim ("max tag ≤ h is
    * exactly t", maintained by every publish — see [[readHint]])
    * answers the warm path with ZERO listings and zero version reads;
    * only the contiguous tail above the hint (usually empty — every
    * publish refreshes it) reads its version files, because versions
    * above a once-latest are contiguous (the [[latestVersion]]
    * argument). A missing/bare/corrupt hint falls back to the
    * descending listing walk with its early stop at the newest tagged
    * version (committed tags strictly increase with version number —
    * the guard protocol is self-enforcing, [[requireTagMonotonic]]).
    *
    * One deliberate asymmetry: the checkpointed claim SURVIVES a
    * vacuum of the tagged version itself (the listing walk would
    * forget it) — strictly safer for a replay guard, which wants the
    * max tag ever committed.
    */
  def lastTag(spark: SparkSession, root: String): Option[Long] = {
    val hf = hintFile(root)
    val f = fs(spark, hf)
    readHint(f, hf) match {
      case Some((h, Some(t))) if f.exists(versionFile(root, h)) =>
        var v = h
        var best = t
        while (f.exists(versionFile(root, v + 1))) {
          v += 1
          versionMeta(spark, root, v).tag.foreach(tt =>
            if (tt > best) best = tt)
        }
        Some(best)
      case _ =>
        versions(spark, root).reverseIterator
          .map(v => versionMeta(spark, root, v).tag)
          .collectFirst { case Some(t) => t }
    }
  }

  // --- change data feed: file-granular version diff ---

  /** What [[changes]] read: the net row-change frame plus the scan
    * accounting that pins its scale contract — files READ = only the
    * two versions' symmetric difference, never the carried-forward
    * fraction (which at 100 TB is ~the whole table).
    */
  final case class ChangeScan(df: DataFrame, filesRead: Int,
                              filesFrom: Int, filesTo: Int,
                              /** Set when the diff is PROVABLY all
                                * one kind ("insert" / "delete") from
                                * the file sets and vectors alone —
                                * [[changesKeyed]] then skips its
                                * pairing window outright (no pair can
                                * exist), the append-only norm. */
                              oneSided: Option[String] = None)

  // --- column mapping (metadata-only RENAME/DROP COLUMN) ---

  /** Present a physically-named frame under the mapping's logical
    * names (renames aliased, dropped columns hidden); columns outside
    * the mapping — including scratch `__*` identity columns — pass
    * through. Identity mappings are a no-op, so unmapped tables keep
    * their exact plans.
    */
  private def logicalProject(df: DataFrame, map: ColMap): DataFrame =
    if (map.isIdentity) df
    else df.select(df.columns.toSeq.flatMap(p =>
      map.logicalOf(p).map(l => if (l == p) col(p) else col(p).as(l))): _*)

  /** Rename a logically-named batch back to the physical field names
    * the table's files carry — the write-side inverse of
    * [[logicalProject]] (fresh files must stay mergeable with old
    * ones under parquet by-name resolution).
    */
  private def toPhysical(df: DataFrame, map: ColMap): DataFrame =
    if (map.isIdentity) df
    else df.select(df.columns.toSeq.map { l =>
      val p = map.physicalOf(l)
      if (p == l) col(l) else col(l).as(p)
    }: _*)

  /** Refuse mapping operations on columns other layout/policy
    * metadata references by name — a renamed partition column would
    * desynchronize the `k=v` paths, a renamed bucket column the
    * layout, a renamed constraint reference the write gate. All are
    * resolvable by materializing first.
    */
  private def requireUnreferenced(m: VMeta, logical: String,
                                  op: String): Unit = {
    val phys = m.colmap.physicalOf(logical)
    val names = Set(logical, phys)
    require(!m.parts.exists(names), s"$op: $logical is a partition column")
    require(!m.bucket.exists(b =>
        (b.cols ++ b.sort).exists(names)),
      s"$op: $logical is a bucket column")
    val word = ("""\b(""" + names.map(java.util.regex.Pattern.quote)
      .mkString("|") + """)\b""").r
    m.constraints.foreach { case (n, e) =>
      require(word.findFirstIn(e).isEmpty,
        s"$op: $logical is referenced by constraint $n ($e) — drop it first")
    }
  }

  /** METADATA-ONLY column rename (Delta column-mapping semantics):
    * one tiny version publish — zero bytes of a 100 TB table move,
    * and time travel keeps showing every older version under the
    * names it had. Readers ([[read]]/[[sqlScan]]/[[changes]]/
    * [[readPruned]]) present the logical names; [[append]] accepts
    * logically-named batches and writes the physical names; the
    * copy-on-write/merge-on-read REWRITERS refuse on a mapped table
    * (their column-name contracts would silently ambiguate) until
    * [[materializeMapping]] bakes the mapping in. Renaming back to
    * the physical name removes the mapping entry. State-dependent
    * publish at exactly readVersion+1 (the [[addConstraint]]
    * discipline).
    */
  def renameColumn(spark: SparkSession, root: String,
                   from: String, to: String): Long = {
    require(from != to, s"renameColumn: $from -> $to is a no-op")
    requireLoggable(to, "renameColumn target")
    occPublish[Long](spark, root, "renameColumn") { at =>
      val m = at.m
      val logical = logicalProjectNames(schemaOf(spark, root, m), m.colmap)
      require(logical.contains(from), s"$root has no column $from")
      require(!logical.contains(to), s"$root already has a column $to")
      requireUnreferenced(m, from, "renameColumn")
      val p = m.colmap.physicalOf(from)
      // the PHYSICAL side lands in the colmap array too — a physical
      // field named with ']' (legal in a commit) would truncate the
      // parse on read and silently mis-map; refuse at the boundary
      requireLoggable(p, "renameColumn source (physical name)")
      val newMap = m.colmap.copy(renames =
        m.colmap.renames.filterNot(_._1 == p) ++
          (if (p == to) Nil else Seq(p -> to)))
      Right(Publish(m.copy(tag = None, colmap = newMap), identity))
    }
  }

  /** METADATA-ONLY column drop: the bytes stay in the immutable old
    * files, invisible to every read; new files simply omit the
    * column. Same publish discipline and reference guards as
    * [[renameColumn]]; [[vacuum]]-then-[[materializeMapping]] is the
    * storage-reclaim path when the bytes must actually go (GDPR-
    * grade erasure of a COLUMN is a rewrite by nature — the mapping
    * makes the COMMON case, schema cleanup, free).
    */
  def dropColumn(spark: SparkSession, root: String, name: String): Long =
    occPublish[Long](spark, root, "dropColumn") { at =>
      val m = at.m
      val logical = logicalProjectNames(schemaOf(spark, root, m), m.colmap)
      require(logical.contains(name), s"$root has no column $name")
      require(logical.size > 1, s"cannot drop the last column of $root")
      requireUnreferenced(m, name, "dropColumn")
      val p = m.colmap.physicalOf(name)
      // same round-trip guard as renameColumn: a ']' in the recorded
      // physical name would truncate the dropped-array parse on read
      // and the column's bytes would silently resurrect
      requireLoggable(p, "dropColumn target (physical name)")
      val newMap = ColMap(m.colmap.renames.filterNot(_._1 == p),
        m.colmap.dropped :+ p)
      Right(Publish(m.copy(tag = None, colmap = newMap), identity))
    }

  private def logicalProjectNames(
      phys: org.apache.spark.sql.types.StructType,
      map: ColMap): Seq[String] =
    phys.fieldNames.toSeq.flatMap(map.logicalOf)

  /** METADATA-ONLY `ALTER TABLE ... ADD COLUMN` — the schema rides
    * the log, so adding a nullable column is one version publish:
    * every existing file surfaces it as NULL (parquet by-name
    * resolution, the same mechanism as [[append]]'s ADD-only
    * evolution — this is that evolution without a batch). Refuses a
    * name colliding with any visible logical name, any physical
    * field (a DROPPED physical name re-added would resurrect the
    * old files' bytes under the new column — materialize first),
    * or an unparseable type. State-dependent publish at exactly
    * readVersion+1.
    */
  def addColumn(spark: SparkSession, root: String, name: String,
                typeDdl: String): Long = {
    import org.apache.spark.sql.types.StructType
    requireLoggable(name, "addColumn name")
    val parsed = StructType.fromDDL(s"`$name` $typeDdl")
    require(parsed.length == 1, s"addColumn: '$typeDdl' is not one type")
    occPublish[Long](spark, root, "addColumn") { at =>
      val m = at.m
      val old = m.schemaDdl.map(StructType.fromDDL).getOrElse(
        throw new IllegalStateException(
          s"$root records no schema — commit once with this library first"))
      require(!old.fieldNames.contains(name),
        if (m.colmap.dropped.contains(name))
          s"addColumn: $name is a dropped column's physical name — its " +
            "bytes would resurrect; materializeMapping first"
        else s"$root already has a column $name")
      require(!logicalProjectNames(old, m.colmap).contains(name),
        s"$root already has a column $name")
      val ddl = StructType(old.fields :+ parsed.fields.head.copy(nullable = true)).toDDL
      Right(Publish(m.copy(tag = None, schemaDdl = Some(ddl)), identity))
    }
  }

  /** METADATA-ONLY `ALTER TABLE ... ALTER COLUMN c TYPE t` — explicit
    * type widening (Delta's type-widening DDL): the migration-order
    * statement that lets an operator widen the LOGGED schema *before*
    * flipping producers, instead of waiting for a widening `MERGE
    * WITH SCHEMA EVOLUTION` to do it as a side effect. Admits exactly
    * [[isLosslessWidening]] (integral chain, float→double, decimal
    * growth — the conversions the parquet readers perform when
    * carried narrow files read up through the widened logged schema);
    * anything lossy or ambiguous refuses. Partition/bucket columns
    * refuse: existing files were PLACED under the narrow type's
    * paths/hashes, and a re-typed key would silently mis-bucket.
    * Zero bytes rewritten at any table size — one version publish;
    * narrow producers keep appending via the write-boundary up-cast,
    * wide producers start appending the moment this lands. Same-type
    * is an idempotent no-op (returns the current version).
    */
  def alterColumnType(spark: SparkSession, root: String, name: String,
                      typeDdl: String): Long = {
    import org.apache.spark.sql.types.StructType
    val parsed = StructType.fromDDL(s"`__t` $typeDdl")
    require(parsed.length == 1, s"alterColumnType: '$typeDdl' is not one type")
    val to = parsed.fields.head.dataType
    occPublish[Long](spark, root, "alterColumnType") { at =>
      val m = at.m
      val old = m.schemaDdl.map(StructType.fromDDL).getOrElse(
        throw new IllegalStateException(
          s"$root records no schema — commit once with this library first"))
      require(logicalProjectNames(old, m.colmap).contains(name),
        s"$root has no column $name")
      val p = m.colmap.physicalOf(name)
      val f = old.fields.find(_.name == p).getOrElse(
        throw new IllegalStateException(s"$root: no physical field $p"))
      if (f.dataType == to) Left(at.v)
      else {
        require(isLosslessWidening(f.dataType, to),
          s"alterColumnType: ${f.dataType.simpleString} -> ${to.simpleString} " +
            "is not a lossless widening (integral chain, float->double, " +
            "decimal growth) — a lossy type change needs an explicit rewrite")
        require(!m.parts.contains(p) && !m.parts.contains(name) &&
            !m.bucket.exists(b => b.cols.contains(p) || b.cols.contains(name)),
          s"alterColumnType: cannot widen $name — it is a partition/bucket " +
            "column (existing files were laid out under the narrower type)")
        val ddl = StructType(old.fields.map(x =>
          if (x.name == p) x.copy(dataType = to) else x)).toDDL
        Right(Publish(m.copy(tag = None, schemaDdl = Some(ddl)), identity))
      }
    }
  }

  /** Bake the column mapping into the data: one full-replace commit
    * of the logical view (files then carry the logical names
    * physically; the new version's mapping is identity), unblocking
    * the rewriting writers. Explicitly O(table) — the one
    * mapping-related operation that costs anything, priced in the
    * call name (Delta's REORG UPGRADE shape). No-op on an unmapped
    * table.
    */
  def materializeMapping(spark: SparkSession, root: String): Long = {
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"$root has no committed versions"))
    if (versionMeta(spark, root, v).colmap.isIdentity) v
    else commit(spark, read(spark, root), root)
  }

  /** CHANGE DATA FEED between two committed versions — the "what
    * happened to the table since I last looked" read every
    * incremental consumer (downstream sync, derived-table refresh,
    * audit) needs, computed at FILE granularity from the version
    * metadata: files present in both versions are IMMUTABLE and
    * cancel by construction — never opened — so the diff costs
    * O(churned files), not O(table) (the only affordable shape at
    * 100 TB, and why Delta's CDF reads per-commit file actions, not
    * table states).
    *
    * Net-change semantics over the churned files (multiset algebra:
    * with U the carried files' rows, from = U+R and to = U+A, so
    * to∖from = A∖R and from∖to = R∖A): a row of a rewritten file
    * that survived verbatim appears in both A and R and cancels in
    * `exceptAll`; what remains is exactly the insert/delete multiset
    * diff of the two logical table states. A row UPDATE ([[merge]])
    * therefore surfaces as delete(old) + insert(new) — the standard
    * CDF shape for formats without per-row identity tracking. A
    * layout-only rewrite ([[optimize]]) cancels COMPLETELY: zero
    * change rows, as it must.
    *
    * Reads run under the TO version's logged schema (ADD-only
    * evolution makes it the superset; pre-evolution files surface
    * added columns as NULL on both sides, so evolution alone never
    * fabricates a change).
    */
  def changes(spark: SparkSession, root: String,
              fromV: Long, toV: Long): ChangeScan = {
    require(fromV <= toV, s"changes: from $fromV > to $toV")
    val mFrom = versionMeta(spark, root, fromV)
    val mTo = versionMeta(spark, root, toV)
    // a tombstone endpoint has no schema and no rows — a diff against
    // it is not a change feed, it is a dropped table; refuse loudly
    requireLive(mFrom, root, "changes(from)")
    requireLive(mTo, root, "changes(to)")
    val fromRel = relFilesOf(spark, root, mFrom)
    val toRel = relFilesOf(spark, root, mTo)
    val fromSet = fromRel.toSet
    val toSet = toRel.toSet
    val schema = schemaOf(spark, root, mTo)
    val dataCols = schema.fieldNames.toSeq
    // each side reads LOGICALLY under its own version's deletion
    // vector (merge-on-read composes with CDF); an empty side scans
    // nothing, so its vector is never opened
    def readLogical(rels: Seq[String], m: VMeta): DataFrame = {
      val raw = physical(spark, root, schema, rels)
      if (rels.isEmpty) raw else logical(spark, root, m, raw)
    }
    val added = readLogical(toRel.filterNot(fromSet), mTo)
    val removed = readLogical(fromRel.filterNot(toSet), mFrom)
    def fresh(base: String): String =
      Iterator.iterate(base)(_ + "_").find(!dataCols.contains(_)).get
    val w = fresh("__cdf_w")
    var dvChurnFiles = 0
    // carried files with VECTOR churn: a position deleted in `to`
    // but live in `from` is a delete; the reverse (rollback across a
    // merge-on-read delete) is an insert. Only the files the vector
    // diff names are opened — dv churn, not table size. ONE pass
    // (r16): vectors are position SETS, so a ±1 union-aggregate nets
    // each churned position to +1 (deleted in from, live in to → the
    // row comes back: insert) or −1 (deleted in to → delete); the
    // churn files are then read ONCE and each matched row carries its
    // sign straight into the final diff union — previously an
    // exceptAll pair plus two reads of the churn files.
    val dvTagged: Option[DataFrame] =
      if (mFrom.dv.isEmpty && mTo.dv.isEmpty) None
      // the SAME vector carried across the step (the append-on-a-
      // dv-table norm): provably zero position churn, skip the diff
      else if (mFrom.dv == mTo.dv) None
      else {
        val carried = (fromSet & toSet).toSeq
        val carriedDf = spark.createDataset(carried)(
          org.apache.spark.sql.Encoders.STRING).toDF("file")
        val dvF = dvOf(spark, root, mFrom).join(carriedDf, Seq("file"), "left_semi")
        val dvT = dvOf(spark, root, mTo).join(carriedDf, Seq("file"), "left_semi")
        val posNet = dvF.withColumn(w, lit(1L))
          .unionByName(dvT.withColumn(w, lit(-1L)))
          .groupBy("file", "pos").agg(sum(col(w)).as(w))
          .filter(col(w) =!= 0L)
        val fl = posNet.select("file").distinct().collect().map(_.getString(0))
        dvChurnFiles += fl.length
        if (fl.isEmpty) None
        // the churn files' PHYSICAL rows: a churned position is live
        // in one of the two versions, whose vectors the net encodes
        else Some(withRowId(spark, root, physical(spark, root, schema, fl.toSeq))
          .join(posNet.select(col("file").as("__file"),
            col("pos").as("__pos"), col(w)),
            Seq("__file", "__pos"), "inner")
          .select((dataCols.map(col) :+ col(w)): _*))
      }
    // the TO version's column mapping presents the change rows under
    // the names current consumers see (Delta CDF's end-schema rule);
    // the diff itself ran in physical names, which rename/drop never
    // alter — a metadata-only mapping change between the versions
    // fabricates zero change rows by construction.
    //
    // Diff shape (r16 optimization): the common version steps are
    // provably one-sided from the FILE SETS alone — an append-only
    // step (no removed files, no vectors) has removed ≡ ∅, so the
    // feed is exactly the added files with "insert" and needs NO
    // aggregation at all (a pure churn scan, zero shuffles); dually
    // for a pure file-drop step. Only a genuinely two-sided step
    // (rewrite, vector churn) pays a diff — and then ONE ±1
    // union-aggregate replaces the previous exceptAll PAIR, which
    // evaluated both churn subplans twice and aggregated twice
    // (Spark plans each exceptAll as union+aggregate+replicate of
    // the same pair). Per distinct row, net>0 emits net "insert"
    // copies and net<0 emits −net "delete" copies — the exact
    // multiset the exceptAll pair produced.
    val out =
      if (dvTagged.isEmpty && fromRel.forall(toSet))
        logicalProject(added, mTo.colmap)
          .withColumn("_change_type", lit("insert"))
      else if (dvTagged.isEmpty && toRel.forall(fromSet))
        logicalProject(removed, mTo.colmap)
          .withColumn("_change_type", lit("delete"))
      else {
        val netC = fresh("__cdf_net"); val dupC = fresh("__cdf_dup")
        val base = added.withColumn(w, lit(1L))
          .unionByName(removed.withColumn(w, lit(-1L)))
        val net = dvTagged.fold(base)(base.unionByName(_))
          .groupBy(dataCols.map(col): _*)
          .agg(sum(col(w)).as(netC))
          .filter(col(netC) =!= 0L)
          .withColumn(dupC, explode(array_repeat(lit(1),
            abs(col(netC)).cast("int"))))
        // __cdf_* scratch columns pass through the mapping untouched
        logicalProject(net, mTo.colmap)
          .withColumn("_change_type",
            when(col(netC) > 0L, "insert").otherwise("delete"))
          .drop(netC, dupC)
      }
    val oneSided =
      if (dvTagged.isEmpty && fromRel.forall(toSet)) Some("insert")
      else if (dvTagged.isEmpty && toRel.forall(fromSet)) Some("delete")
      else None
    ChangeScan(out,
      (toSet -- fromSet).size + (fromSet -- toSet).size + dvChurnFiles,
      fromRel.size, toRel.size, oneSided)
  }

  /** [[changes]] refined with a row-identity KEY — Delta CDF's full
    * change vocabulary: a net delete+insert pair sharing `key` is an
    * UPDATE, reclassified as `update_preimage` / `update_postimage`;
    * unmatched rows stay `insert` / `delete`. One window pass over
    * the (churn-sized) change frame — the base table is still never
    * opened. Null keys never pair (the [[merge]] matching rule), and
    * key-uniqueness per version (the upsert contract) is what makes
    * the pre/post pairing well-defined.
    */
  def changesKeyed(spark: SparkSession, root: String, fromV: Long,
                   toV: Long, key: String): ChangeScan = {
    import org.apache.spark.sql.functions.{max, when}
    val cs = changes(spark, root, fromV, toV)
    // a provably one-sided diff (append-only step, pure drop) can
    // hold no insert+delete pair — the reclassification is the
    // identity, so skip the window (and its full-churn shuffle)
    if (cs.oneSided.isDefined) return cs
    // null keys never pair, so their window partition is pure
    // overhead — and `partitionBy(key)` alone would land EVERY
    // null-key change row in ONE window partition (a null-heavy churn
    // batch becoming a single straggler task). SALT the nulls with
    // the reader partition id (materialized by the Project below, so
    // the window partitions by a plain attribute): null keys scatter
    // across as many window partitions as they were read from, while
    // non-null keys keep salt 0 and pair exactly as before. One pass
    // — splitting on isNotNull and unioning back would evaluate the
    // churn diff plan twice.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key), col("__salt"))
    val df = cs.df
      .withColumn("__salt",
        when(col(key).isNull,
          org.apache.spark.sql.functions.spark_partition_id())
          .otherwise(lit(0)))
      .withColumn("__ins", max(when(col("_change_type") === "insert", 1)
        .otherwise(0)).over(w))
      .withColumn("__del", max(when(col("_change_type") === "delete", 1)
        .otherwise(0)).over(w))
      .withColumn("_change_type",
        when(col(key).isNotNull && col("__ins") === 1 && col("__del") === 1,
          when(col("_change_type") === "insert", "update_postimage")
            .otherwise("update_preimage"))
          .otherwise(col("_change_type")))
      .drop("__ins", "__del", "__salt")
    ChangeScan(df, cs.filesRead, cs.filesFrom, cs.filesTo)
  }

  /** TIMESTAMP-ADDRESSED change data feed — Delta's
    * `table_changes(..., startingTimestamp, endingTimestamp)` shape:
    * each bound resolves to the largest version committed AT OR
    * BEFORE it through the version log's own mtimes
    * ([[versionAsOf]] — two directory listings, no file contents),
    * then the diff is the usual file-granular [[changes]]. "What
    * changed since yesterday 09:00" without the consumer tracking
    * version numbers.
    */
  def changesAsOf(spark: SparkSession, root: String,
                  fromTsMillis: Long, toTsMillis: Long): ChangeScan =
    changes(spark, root, versionAsOf(spark, root, fromTsMillis),
      versionAsOf(spark, root, toTsMillis))

  // --- file lineage: which commit introduced each row ---

  /** METADATA-ONLY file lineage for `version`: each of its data
    * files mapped to the version that FIRST referenced it. The
    * aggregation is a SPARK PLAN, not a driver loop: each MANIFEST
    * version's file list is read as a distributed text source (one
    * line = one file), dir versions contribute their (per-dir
    * bounded) listing, and `groupBy(file).min(version)` folds the
    * union — at 10⁶ files × 10² retained versions the 10⁸ (file,
    * version) pairs shuffle on executors instead of mutating a
    * driver map. The audit primitive behind [[readWithLineage]].
    */
  def fileLineage(spark: SparkSession, root: String,
                  version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{length, min => minCol, trim}
    val v = version.orElse(latestVersion(spark, root)).getOrElse(
      throw new IllegalArgumentException(s"$root has no committed versions"))
    // layout refs ride the aggregate checkpoint ([[historyRows]]):
    // the per-version metadata is one checkpoint read + tail, not
    // O(#versions) version-file reads
    val rows = historyRows(spark, root)
    require(rows.exists(_.v == v), s"$root has no committed version $v")
    val perVersion = rows.filter(_.v <= v).map { r =>
      val files = r.layout match {
        case "manifest" =>
          spark.read.text(new Path(root, r.ref).toString)
            .select(trim(col("value")).as("file"))
            .filter(length(col("file")) > 0)
        case "dir" =>
          spark.createDataset(
            StatsIndex.listDataFiles(spark, new Path(root, r.ref).toString)
              .map(abs => relOf(spark, root, abs)))(
            org.apache.spark.sql.Encoders.STRING).toDF("file")
        case "tombstone" =>
          spark.createDataset(Seq.empty[String])(
            org.apache.spark.sql.Encoders.STRING).toDF("file")
        case _ => throw new IllegalArgumentException(
          s"fileLineage: version ${r.v} of $root requires format features " +
            "this reader does not support — upgrade the library to read " +
            "this version")
      }
      files.withColumn("version", lit(r.v))
    }
    val cur = perVersion.last.select("file")
    perVersion.reduce(_ unionByName _)
      .groupBy("file").agg(minCol("version").as("since_version"))
      .join(cur, Seq("file"), "left_semi")
  }

  /** Read `version` with a `_commit_version` AUDIT column — the
    * version that introduced each row's FILE (Delta's CDF
    * `_commit_version` attribution): appends keep their ingest
    * version forever (files carry by reference), while a
    * copy-on-write rewrite re-introduces its surviving rows at the
    * rewrite version — PHYSICAL lineage, stated as such. The lineage
    * map is metadata-sized (one row per file) and broadcast; a
    * deletion vector applies as in [[read]].
    */
  def readWithLineage(spark: SparkSession, root: String,
                      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, root)).getOrElse(
      throw new IllegalArgumentException(s"$root has no committed versions"))
    val m = versionMeta(spark, root, v)
    requireLive(m, root, "readWithLineage")
    val schema = schemaOf(spark, root, m)
    val dataCols = schema.fieldNames.toSeq
    val lin = fileLineage(spark, root, Some(v))
    logical(spark, root, m,
        physical(spark, root, schema, relFilesOf(spark, root, m)), keepId = true)
      .join(org.apache.spark.sql.functions.broadcast(
        lin.withColumnRenamed("file", "__file")), Seq("__file"), "left")
      .select(dataCols.map(col) :+
        col("since_version").as("_commit_version"): _*)
      // lineage rides a physical read; present the logical names
      .transform(df => logicalProject(df, m.colmap))
  }

  // --- shallow clone: zero-copy table fork ---

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`): `dst`
    * becomes a new table whose v1 is a manifest REFERENCING the
    * source version's files in place — zero data copied, cost = one
    * manifest write, independent of table size. The experimentation
    * primitive a 100 TB corpus needs: fork, diverge, throw away.
    * Writers on the clone are copy-on-write as always, so divergence
    * costs only what it rewrites (into the CLONE's own dirs — the
    * source is never touched), and the source's stats index is
    * reused VERBATIM when present (its absolute file URIs stay
    * valid), so the clone skips files from birth without a scan.
    * Schema and constraints ride over; the idempotency tag does not
    * (a clone is not a re-ingest).
    *
    * The stats copy lands in `_stats/<layout>__tmp` before its swap;
    * a crash in between leaves that dir behind, and [[vacuum]] is the
    * sweep that reclaims it past the orphan grace.
    *
    * Caveats (both as in Delta): vacuuming the SOURCE can reclaim
    * files live clones still reference — source retention must
    * outlive clones; and a deletion-vector version must be
    * materialized first ([[optimize]]) — its vector's file keys are
    * source-relative and would silently not match under the clone's
    * root.
    */
  def cloneShallow(spark: SparkSession, srcRoot: String, dstRoot: String,
                   version: Option[Long] = None,
                   orReplace: Boolean = false): Long = {
    val v = version.orElse(latestVersion(spark, srcRoot)).getOrElse(
      throw new IllegalArgumentException(s"$srcRoot has no committed versions"))
    val m = versionMeta(spark, srcRoot, v)
    requireLive(m, srcRoot, "cloneShallow source")
    require(m.dv.isEmpty,
      s"shallow clone of a deletion-vector version: optimize $srcRoot " +
        "first (materializes the vector)")
    // like [[create]], cloning into a DROPPED root revives it at the
    // tombstone's successor — DROP TABLE then SHALLOW CLONE is the
    // documented way to re-point a previously-used destination; with
    // `orReplace` (CREATE OR REPLACE ... SHALLOW CLONE) the clone is
    // a full-replace version over ANY destination state — history
    // preserved, the re-runnable re-point
    val dstPrior = latestVersion(spark, dstRoot)
    require(orReplace ||
        dstPrior.map(pv => versionMeta(spark, dstRoot, pv))
          .forall(_.tombstone),
      s"$dstRoot already has committed versions — use CREATE OR " +
        "REPLACE ... SHALLOW CLONE to re-point it")
    val absFiles = filesOfVersion(spark, srcRoot, v).map(f => StatsIndex.normPath(f))
    val man = writeManifest(spark, dstRoot, absFiles)
    val ddl = m.schemaDdl.getOrElse(loggedDdl(schemaOf(spark, srcRoot, m)))
    val meta = VMeta(None, Some(man), m.nRows, None, Some(ddl), None,
      m.constraints, m.parts, m.bucket, m.colmap)
    val nv =
      if (orReplace)
        // the replace verb takes any next slot (publishNext semantics)
        publishNext(spark, dstRoot, VersionLog.encode(_, meta))
      else {
        // a CREATE-shaped verb publishes at EXACTLY the first free
        // slot — racing clones/creates must yield one winner and one
        // loud refusal, never a silent replace (a publishNext retry
        // would be one)
        val slot = dstPrior.getOrElse(0L) + 1
        fireRaceHook()
        if (!tryPublish(spark, dstRoot, slot, VersionLog.encode(slot, meta), None)) {
          fs(spark, new Path(dstRoot, man)).delete(new Path(dstRoot, man), false)
          throw new IllegalStateException(
            s"SHALLOW CLONE: $dstRoot was created concurrently — refusing " +
              "to replace it")
        }
        slot
      }
    val sp = statsPath(srcRoot, m.layoutId)
    if (fs(spark, sp).exists(sp)) {
      // stats dirs are immutable layout-keyed bytes: a driver-side
      // file copy replaces the previous read-back-and-rewrite (a
      // schema-inference job + a distributed write per clone)
      val dstLayout = versionMeta(spark, dstRoot, nv).layoutId
      val dp = statsPath(dstRoot, dstLayout)
      val tmp = new Path(dp.toString + "__tmp")
      val f = fs(spark, dp)
      f.delete(tmp, true)
      require(org.apache.hadoop.fs.FileUtil.copy(
        fs(spark, sp), sp, f, tmp, false, true,
        spark.sparkContext.hadoopConfiguration),
        s"clone: failed to copy stats $sp -> $tmp")
      Load.swap(spark, tmp.toString, dp.toString)
      statsCacheGet(rootPathOf(spark, srcRoot), m.layoutId).foreach {
        case (schema, rows) =>
          statsCachePut(rootPathOf(spark, dstRoot), dstLayout, schema, rows)
      }
    }
    nv
  }

  // --- write-time expectations: CHECK constraints in the log ---

  /** A row VIOLATES when some constraint evaluates to FALSE — SQL
    * CHECK semantics (and Delta's): NULL passes.
    */
  private def violatedCol(cons: Seq[(String, String)]): Column =
    cons.map { case (_, e) =>
      !coalesce(org.apache.spark.sql.functions.expr(e), lit(true))
    }.reduce(_ || _)

  /** Fail loudly when `df` violates the table's constraints — one
    * predicate pass over the BATCH (never the table): write-time
    * enforcement costs O(what is being written).
    */
  private def requireSatisfied(df: DataFrame, cons: Seq[(String, String)],
                               what: String): Unit =
    if (cons.nonEmpty) {
      val bad = df.filter(violatedCol(cons)).count()
      require(bad == 0L,
        s"$what: $bad rows violate table constraints " +
          s"(${cons.map(_._1).mkString(", ")}) — " +
          "appendWithExpectations quarantines instead of refusing")
    }

  /** The table's current CHECK constraints (latest version's
    * metadata — constraints ride the log like the schema does, so
    * time travel sees the policy that held at each version).
    */
  def constraintsOf(spark: SparkSession, root: String): Seq[(String, String)] =
    latestVersion(spark, root)
      .map(v => versionMeta(spark, root, v).constraints).getOrElse(Nil)

  /** `ALTER TABLE ... ADD CONSTRAINT name CHECK (exprSql)` — a
    * METADATA-ONLY version recording the constraint in the log,
    * after one validation scan proving the EXISTING data satisfies
    * it (Delta's semantics: a constraint you could immediately
    * violate by reading your own table is a lie). Every subsequent
    * writer enforces it against what it writes; [[rollback]] across
    * the ADD restores the prior (unconstrained) policy with the
    * prior data — policy and data travel together.
    */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    exprSql: String): Long =
    occPublish[Long](spark, root, "addConstraint") { at =>
      val m = at.m
      require(!m.constraints.exists(_._1 == name),
        s"$root already has a constraint named $name")
      val bad = read(spark, root, Some(at.v))
        .filter(!coalesce(org.apache.spark.sql.functions.expr(exprSql), lit(true)))
        .count()
      require(bad == 0L,
        s"cannot add constraint $name: $bad existing rows violate it")
      // validated against v — publish at exactly v+1 so a concurrent
      // commit (whose rows we never checked) fails us into a re-check
      Right(Publish(
        m.copy(tag = None, constraints = m.constraints :+ ((name, exprSql))),
        identity))
    }

  /** `ALTER TABLE ... DROP CONSTRAINT` — metadata-only. A
    * STATE-DEPENDENT writer like [[addConstraint]]: the published
    * body re-records the read version's entire metadata (file list,
    * n_rows, dv), so it must land at EXACTLY readVersion+1 — a
    * publishNext retry past a concurrent commit would republish the
    * stale file list as the new latest and silently drop that
    * commit's rows. A lost race re-reads and retries.
    */
  def dropConstraint(spark: SparkSession, root: String, name: String): Long =
    occPublish[Long](spark, root, "dropConstraint") { at =>
      val m = at.m
      require(m.constraints.exists(_._1 == name),
        s"$root has no constraint named $name")
      Right(Publish(
        m.copy(tag = None, constraints = m.constraints.filterNot(_._1 == name)),
        identity))
    }

  /** What an expectations-gated append did. */
  final case class ExpectResult(version: Long, rowsAppended: Long,
                                rowsQuarantined: Long)

  /** [[append]] with EXPECTATIONS instead of refusal: rows violating
    * any table constraint land in `quarantineDir` with a
    * `_violation` column naming the failed constraints
    * (comma-joined, declaration order), and only the clean rows
    * commit — the engine's F5 quarantine discipline
    * ([[Load.quarantine]]) applied at the lakehouse write boundary,
    * so one bad feed row quarantines instead of poisoning the table
    * or killing the ingest. Cost: two predicate passes over the
    * BATCH (quarantine side, then the clean side into the append's
    * write) — batch-bounded, never table-bounded, and the clean
    * side skips the redundant strict re-validation.
    */
  def appendWithExpectations(spark: SparkSession, df: DataFrame, root: String,
                             quarantineDir: String,
                             statsCols: Seq[String] = Nil,
                             tag: Option[Long] = None): ExpectResult = {
    // the tag gate runs BEFORE any side effect: a zombie-replayed
    // tagged batch must leave the quarantine dir untouched too, not
    // just the table — otherwise every replay of a refused batch
    // appends duplicate violation rows. One O(1) lastTag read
    // (re-checked at the commit boundary inside appendUnchecked for
    // the race window, as always).
    requireTagMonotonic(spark, root, tag, "appendWithExpectations")
    val cons = constraintsOf(spark, root)
    if (cons.isEmpty) {
      val before = latestVersion(spark, root)
        .map(v => versionMeta(spark, root, v).nRows).getOrElse(0L)
      val v = appendUnchecked(spark, df, root, statsCols, tag, false, Nil)
      return ExpectResult(v, versionMeta(spark, root, v).nRows - before, 0L)
    }
    val flagged = df.withColumn("_violation",
      org.apache.spark.sql.functions.concat_ws(",", cons.map { case (n, e) =>
        org.apache.spark.sql.functions.when(
          !coalesce(org.apache.spark.sql.functions.expr(e), lit(true)), lit(n))
      }: _*))
    val bad = flagged.filter(col("_violation") =!= "")
    val obs = org.apache.spark.sql.Observation(
      s"graft_quar_${java.util.UUID.randomUUID().toString.take(8)}")
    bad.observe(obs, org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .write.mode("append").parquet(quarantineDir)
    val badN = obs.get("n").asInstanceOf[Long]
    val good = flagged.filter(col("_violation") === "").drop("_violation")
    val before = latestVersion(spark, root)
      .map(v => versionMeta(spark, root, v).nRows).getOrElse(0L)
    val v = appendUnchecked(spark, good, root, statsCols, tag, false, cons)
    ExpectResult(v, versionMeta(spark, root, v).nRows - before, badN)
  }

  // --- merge-on-read deletes: positional deletion vectors ---

  private def emptyDv(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("file", StringType), StructField("pos", LongType))))
  }

  /** The version's deletion vector as a (file, pos) frame — empty
    * when the version carries none. Opened by [[Load.openTable]]:
    * the vector is the engine's own parquet, so its schema comes from
    * the footer and opening it runs no Spark job.
    */
  private def dvOf(spark: SparkSession, root: String, m: VMeta): DataFrame =
    m.dv.map(rel => Load.openTable(spark, new Path(root, rel).toString))
      .getOrElse(emptyDv(spark))

  /** What a merge-on-read delete did: the new version, the rows it
    * logically removed, and the total deletion-vector size the
    * version now carries. `filesRewritten` is ALWAYS 0 — that is the
    * point.
    */
  final case class MorResult(version: Long, rowsDeleted: Long,
                             dvRowsTotal: Long)

  /** MERGE-ON-READ delete (`DELETE WHERE pred` without rewriting a
    * single data file — Delta deletion vectors / Iceberg positional
    * deletes): the matching rows' (file, row_index) pairs are
    * written as a tiny DELETION VECTOR parquet and the new version
    * references the SAME data layout plus the vector; [[read]]
    * applies it as an anti-join in the scan. This is the shape an
    * arbitrary-predicate point delete must take at 100 TB: the
    * copy-on-write [[deleteRange]] rewrites every file its stats
    * cannot exonerate — for a predicate scattered across the
    * keyspace (the GDPR user-id case against a date-clustered
    * layout) that is the WHOLE table — while here the write cost is
    * one predicate scan and the rewrite cost is zero, deferred to
    * [[optimize]] (which reads logically and therefore MATERIALIZES
    * the vector away, Delta's REORG ... APPLY (PURGE)).
    *
    * Semantics match [[deleteRange]]: rows delete iff `pred` is TRUE
    * (null-pred rows are kept); already-deleted positions never
    * re-enter the vector, so repeated deletes are idempotent and
    * `rowsDeleted` is exact. Publishes at readVersion+1 with the
    * same conflict check as [[merge]]. A no-match delete publishes
    * nothing and returns the current version.
    */
  def deleteWhere(spark: SparkSession, root: String,
                  pred: Column): MorResult =
    occPublish[MorResult](spark, root, "deleteWhere") { at =>
      val (v, m) = (at.v, at.m)
      val prior = dvOf(spark, root, m)
      val priorN = m.dv.map(_ => prior.count()).getOrElse(0L)
      // the live rows with their (file, pos) identity — an already
      // deleted position never re-enters the vector; the predicate
      // evaluates over the LOGICAL view, so mapped tables delete by
      // the names users see (the identity columns pass the mapping,
      // and the filter still pushes through it to the scan)
      val fresh = logicalProject(logical(spark, root, m, physical(spark, root,
          schemaOf(spark, root, m), relFilesOf(spark, root, m)), keepId = true),
          m.colmap)
        .filter(coalesce(pred, lit(false)))
        .select(col("__file").as("file"), col("__pos").as("pos"))
      val dvRel = s"dv/d-${java.util.UUID.randomUUID().toString.take(13)}"
      val dvPath = new Path(root, dvRel).toString
      val obs = org.apache.spark.sql.Observation(
        s"graft_dv_${java.util.UUID.randomUUID().toString.take(8)}")
      prior.unionByName(fresh)
        .observe(obs, org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(dvPath)
      val total = obs.get("n").asInstanceOf[Long]
      val freshN = total - priorN
      if (freshN == 0L) {
        fs(spark, new Path(root, dvRel)).delete(new Path(root, dvRel), true)
        Left(MorResult(v, 0L, priorN))
      } else Right(Publish(
        m.copy(tag = None, nRows = m.nRows - freshN, dv = Some(dvRel)),
        nv => MorResult(nv, freshN, total), staged = Seq(dvRel)))
    }

  /** What a merge-on-read UPDATE did: the new version, the rows it
    * rewrote, and the deletion-vector size the version now carries.
    * Zero PRE-EXISTING data files are rewritten — that is the point.
    */
  final case class MorUpdateResult(version: Long, rowsUpdated: Long,
                                   dvRowsTotal: Long)

  /** MERGE-ON-READ `UPDATE ... SET ... WHERE pred` (Delta's
    * DV-based UPDATE): the matched rows' old positions join the
    * deletion vector and their REWRITTEN images land in one fresh
    * dir the new version's manifest adds — every pre-existing data
    * file carries by reference, so an arbitrary-predicate update
    * scattered across a 100 TB keyspace costs one predicate scan
    * plus a churn-sized write, never a table rewrite (the
    * copy-on-write [[merge]] remains the right tool when updates are
    * key-localized against a clustered layout — it keeps files
    * dense; THIS is the tool when they are not).
    *
    * One scan: the matched LOGICAL rows (prior vector applied — a
    * row already deleted never resurrects as an update) land in a
    * scratch dir WITH their (file, pos) identity; both the new
    * vector and the rewritten rows derive from that churn-sized
    * frame, so the table is read once. Assignments cast back to the
    * column's logged type (files stay schema-exact) and face the
    * table's CHECK constraints like any written rows. Row count is
    * unchanged by construction. Publishes at readVersion+1; a
    * no-match update publishes nothing.
    *
    * A lost race re-bases through [[rebaseDelta]] — the staged rewrite
    * and vector stay valid on an interleaved latest that is
    * metadata-compatible, still holds every file the update read (the
    * vector and the rewritten images reference them), and ADDED no
    * file holding a row the predicate matches: the re-based commit
    * serializes AFTER the interleaver, so a matching row it never
    * evaluated would break write-serializability (Delta's conflict
    * checker refuses the same shape). The check scans exactly the
    * added files, never the table; any conflict re-runs the update.
    */
  def updateWhere(spark: SparkSession, root: String, pred: Column,
                  set: Seq[(String, Column)]): MorUpdateResult = {
    require(set.nonEmpty, "updateWhere needs at least one assignment")
    occPublish[MorUpdateResult](spark, root, "updateWhere") { at =>
      val (v, m) = (at.v, at.m)
      require(m.colmap.isIdentity, s"$root carries a column mapping — " +
        "materializeMapping before updateWhere")
      val schema = schemaOf(spark, root, m)
      val setMap = set.toMap
      setMap.keys.foreach(c => require(schema.fieldNames.contains(c),
        s"updateWhere: $c is not a column of $root"))
      val readRels = relFilesOf(spark, root, m)
      val prior = dvOf(spark, root, m)
      val priorN = m.dv.map(_ => prior.count()).getOrElse(0L)
      val scratch = s"data/u-${java.util.UUID.randomUUID().toString.take(13)}"
      val scratchPath = new Path(root, scratch)
      def dropScratch(): Unit = fs(spark, scratchPath).delete(scratchPath, true)
      val matched = logical(spark, root, m, physical(spark, root, schema, readRels),
          keepId = true)
        .filter(coalesce(pred, lit(false)))
      val obs = org.apache.spark.sql.Observation(
        s"graft_upd_${java.util.UUID.randomUUID().toString.take(8)}")
      matched.observe(obs, org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(scratchPath.toString)
      val nUpd = obs.get("n").asInstanceOf[Long]
      if (nUpd == 0L) {
        dropScratch()
        Left(MorUpdateResult(v, 0L, priorN))
      } else {
        val scr = physical(spark, root, asNullable(matched.schema),
          listFreshRel(spark, root, scratch))
        val updated = scr.select(schema.fields.toSeq.map { f =>
          setMap.get(f.name).map(_.cast(f.dataType).as(f.name))
            .getOrElse(col(f.name))
        }: _*)
        try requireSatisfied(updated, m.constraints, "updateWhere")
        catch { case e: Throwable => dropScratch(); throw e }
        val (freshDir, freshRows) =
          writeDataDir(spark, updated, root, m.parts, m.bucket)
        val dvRel = s"dv/d-${java.util.UUID.randomUUID().toString.take(13)}"
        prior.unionByName(scr.select(col("__file").as("file"),
            col("__pos").as("pos")))
          .write.mode("overwrite").parquet(new Path(root, dvRel).toString)
        val freshRel = listFreshRel(spark, root, freshDir)
        // the conflict rule: an added file holding a row the predicate
        // matches (see the doc)
        def addedMatches(added: DataFrame): Boolean = {
          val addedRel = added.select("file").collect()
            .map(r => relOf(spark, root, r.getString(0))).toSeq
          addedRel.nonEmpty && physical(spark, root, schema, addedRel)
            .filter(coalesce(pred, lit(false))).limit(1).count() > 0
        }
        // every read file stays listed (the new vector addresses them);
        // a re-base lists the interleaver's files beside them
        def publish(others: Seq[String], nRows: Long): Publish[MorUpdateResult] = {
          val man = writeManifest(spark, root, others ++ readRels ++ freshRel)
          Publish(VMeta(None, Some(man), nRows, None, m.schemaDdl, Some(dvRel),
              m.constraints, m.parts, m.bucket),
            nv => { dropScratch(); MorUpdateResult(nv, freshRows, priorN + nUpd) },
            staged = Seq(man), retained = Seq(scratch, freshDir, dvRel),
            rebase = Some(m2 => rebaseDelta(spark, root, m, readRels,
                readRels.toSet, m2, None, addedMatches)
              .map { case (others2, _) => publish(others2, m2.nRows) }))
        }
        Right(publish(Nil, m.nRows))
      }
    }
  }

  // --- copy-on-write writers: append / merge / deleteRange ---

  /** What a copy-on-write commit did: the new version, how many of
    * the prior version's files it REWROTE vs carried by reference,
    * and the rows the rewrite wrote. `filesRewritten` is the scale
    * contract — a key-localized merge against a clustered layout
    * rewrites a handful of files out of millions, and this count
    * proves it per-commit.
    */
  final case class CowResult(version: Long, filesRewritten: Int,
                             filesTotal: Int, rowsWritten: Long)

  private def listFreshRel(spark: SparkSession, root: String,
                           dataDir: String): Seq[String] =
    StatsIndex.listDataFiles(spark, new Path(root, dataDir).toString)
      .map(abs => relOf(spark, root, abs))

  /** METADATA-ONLY append: publish a new version whose file list is
    * the previous version's files (by reference — nothing copied or
    * rewritten) plus a freshly written dir holding `df`. This is the
    * daily-ingest steady state at 100 TB: the commit cost is the new
    * batch's write plus one manifest, independent of table size.
    *
    * Conflict-safe like [[optimize]]: the manifest is a function of
    * the version it read, so the publish targets EXACTLY
    * readVersion+1 — a concurrent commit landing first fails the
    * publish and the append re-reads and re-publishes (its fresh data
    * dir is untouched; only the tiny manifest is rebuilt), so no
    * concurrent writer's files are ever dropped.
    *
    * With `statsCols` set, the new version's skipping index is the
    * prior version's stats rows carried VERBATIM plus one
    * [[StatsIndex.build]] pass over just the fresh dir — incremental
    * maintenance in the same commit. `tag` is an idempotency token
    * (see [[lastTag]]): the streaming ingest records its micro-batch
    * id so replays skip instead of double-appending.
    */
  def append(spark: SparkSession, df: DataFrame, root: String,
             statsCols: Seq[String] = Nil, tag: Option[Long] = None,
             evolveSchema: Boolean = false,
             copyRef: Option[String] = None): Long = {
    // write-time CHECK enforcement: one predicate pass over the
    // BATCH, before any data lands ([[addConstraint]])
    val cons = constraintsOf(spark, root)
    requireSatisfied(df, cons, "append batch")
    appendUnchecked(spark, df, root, statsCols, tag, evolveSchema, cons,
      copyRef)
  }

  /** [[append]] minus the constraint gate — the path
    * [[appendWithExpectations]] takes after it has already split the
    * batch (re-validating the clean half would be a wasted pass).
    * `checkedCons` is the constraint set the batch WAS validated
    * against: if a concurrent ADD CONSTRAINT lands between that
    * validation and the publish, the retry loop detects the changed
    * set and re-validates against the delta — never recording a
    * constraint on a version whose own batch was not checked
    * against it.
    */
  private def appendUnchecked(spark: SparkSession, df: DataFrame, root: String,
                              statsCols: Seq[String], tag: Option[Long],
                              evolveSchema: Boolean,
                              checkedCons: Seq[(String, String)],
                              copyRef: Option[String] = None): Long = {
    import org.apache.spark.sql.types.StructType
    // ONE metadata read resolves the partition layout (it must be
    // known before the data write) AND seeds the first attempt —
    // retries re-read. A racing full-replace that changes the layout
    // only costs the fresh files their path-pruning precision — the
    // planner keeps files without the `k=v` segment conservatively.
    val cached: Option[(Long, VMeta)] = latestVersion(spark, root)
      .map(v => (v, versionMeta(spark, root, v)))
    val tableParts = cached.map(_._2.parts).getOrElse(Nil)
    val tableBucket = cached.flatMap(_._2.bucket)
    // column mapping: the batch arrives under LOGICAL names and the
    // files must carry the PHYSICAL ones (parquet by-name resolution
    // across old and new files). Stats columns map the same way.
    // Mapping drift during the publish retry is harmless here —
    // physical names never change, so the written files stay correct
    // under any concurrent rename/drop.
    val tableMap = cached.map(_._2.colmap).getOrElse(ColMap())
    val dfPhys0 = toPhysical(df, tableMap)
    // a batch column LOSSLESSLY NARROWER than the logged type casts
    // UP at the write boundary — an int producer keeps feeding a
    // long-widened table (the merge-evolution counterpart); files
    // stay schema-exact under the logged types. Anything else keeps
    // the strict drift gate below. Must happen BEFORE the data write;
    // a concurrent widening mid-retry still refuses there (strict
    // equality against the CURRENT schema), never poisons files.
    val dfPhys = cached.flatMap(_._2.schemaDdl)
      .map(org.apache.spark.sql.types.StructType.fromDDL) match {
      case Some(old) if tableMap.isIdentity &&
          dfPhys0.schema.fields.exists(f =>
            old.fieldNames.contains(f.name) &&
              old(f.name).dataType != f.dataType &&
              isLosslessWidening(f.dataType, old(f.name).dataType)) =>
        dfPhys0.select(dfPhys0.schema.fields.toSeq.map { f =>
          if (old.fieldNames.contains(f.name) &&
              isLosslessWidening(f.dataType, old(f.name).dataType))
            col(f.name).cast(old(f.name).dataType).as(f.name)
          else col(f.name)
        }: _*)
      case _ => dfPhys0
    }
    val physStatsCols = statsCols.map(tableMap.physicalOf)
    // written ONCE, by the first attempt whose checks pass; a lost
    // race hands it to the next attempt, which only rebuilds the
    // manifest
    lazy val (freshDir, freshRows) =
      writeDataDir(spark, dfPhys, root, tableParts, tableBucket)
    lazy val freshRel = listFreshRel(spark, root, freshDir)
    var checked = checkedCons
    // tag monotonicity is re-checked by every attempt (see
    // [[requireTagMonotonic]]), so the readVersion+1 publish makes
    // check-then-commit atomic
    occPublish[Long](spark, root, "append", tag, cached) { at =>
      val priorMeta = at.meta
      // bucket-layout drift is a CORRECTNESS hazard, not a precision
      // loss like partition drift: the fresh files were shaped and
      // tagged for the layout read before the write, and publishing
      // them under a concurrently redefined layout would mis-bucket
      // rows (a silently wrong shuffle-free join later). Refuse
      // loudly — layout redefinition is a rare admin full-replace.
      val bucketNow = priorMeta.flatMap(_.bucket)
      if (bucketNow != tableBucket)
        throw new IllegalStateException(
          s"$root: bucket layout changed concurrently " +
            s"($tableBucket -> $bucketNow) — retry the append")
      // constraint-set drift check (see doc): a concurrently added
      // constraint re-validates the batch before it can be recorded
      val consNow = priorMeta.map(_.constraints).getOrElse(Nil)
      if (consNow != checked) {
        requireSatisfied(df, consNow.filterNot(checked.contains),
          "append batch (constraint added concurrently)")
        checked = consNow
      }
      // schema-in-the-log: the new version records its schema so
      // reads never sample footers. ADD-only evolution: new df
      // columns extend the table schema (old files surface them as
      // nulls); shared columns must keep their type; without
      // `evolveSchema`, the batch must match the table exactly —
      // silent column drift in a daily feed is a bug, not evolution.
      val newSchema = priorMeta.map(schemaOf(spark, root, _)) match {
        case None => dfPhys.schema
        case Some(old) if !tableMap.isIdentity =>
          // mapped table: the batch must match the LOGICAL schema —
          // comparing physical names would let a batch under a
          // column's STALE pre-rename name slip through (old logical
          // == physical). The recorded schema keeps every physical
          // field (dropped ones included — old files still carry
          // them; re-adding their names is what materializeMapping
          // unlocks).
          require(!evolveSchema, "append: schema evolution on a " +
            "column-mapped table — materializeMapping first")
          val logNames = old.fields.flatMap(f =>
            tableMap.logicalOf(f.name)).toSet
          df.schema.fields.foreach { f =>
            require(logNames.contains(f.name),
              s"append batch column ${f.name} is not a table column " +
                s"(logical schema: $logNames)")
            val physType = old(tableMap.physicalOf(f.name)).dataType
            require(physType == f.dataType,
              s"append: column ${f.name} type ${f.dataType} != table $physType")
          }
          require(df.schema.size == logNames.size,
            s"append batch schema ${df.columns.toSet} != table $logNames")
          old
        case Some(old) =>
          val oldNames = old.fieldNames.toSet
          dfPhys.schema.fields.filter(f => oldNames.contains(f.name)).foreach { f =>
            require(old(f.name).dataType == f.dataType,
              s"append: column ${f.name} type ${f.dataType} != table ${old(f.name).dataType}")
          }
          val extra = dfPhys.schema.fields.filterNot(f => oldNames.contains(f.name))
          if (!evolveSchema)
            require(extra.isEmpty && oldNames.size == dfPhys.schema.size,
              s"append batch schema ${dfPhys.columns.toSet} != table $oldNames — " +
                "pass evolveSchema=true to ADD columns")
          StructType(old.fields ++ extra)
      }
      val oldRel = priorMeta.map(relFilesOf(spark, root, _)).getOrElse(Nil)
      val man = writeManifest(spark, root, oldRel ++ freshRel)
      // a prior deletion vector rides forward by reference: its
      // (file, pos) keys address files this append carries verbatim,
      // and the fresh files have no deleted positions
      val meta = VMeta(None, Some(man),
        priorMeta.map(_.nRows).getOrElse(0L) + freshRows, tag,
        Some(loggedDdl(newSchema)), priorMeta.flatMap(_.dv), consNow,
        priorMeta.map(_.parts).getOrElse(Nil), bucketNow,
        priorMeta.map(_.colmap).getOrElse(ColMap()), copyRef = copyRef)
      Right(Publish(meta, nv => {
          if (statsCols.nonEmpty)
            writeIndex(spark, root, meta, physStatsCols, freshRel,
              priorMeta.map(statsRowsOf(spark, root, _, physStatsCols)))
          nv
        }, staged = Seq(man), retained = Seq(freshDir)))
    }
  }

  /** What a COPY INTO did: the committed version (unchanged when
    * everything was already loaded), the file-level split, and the
    * loaded row count.
    */
  final case class CopyResult(version: Long, filesLoaded: Int,
                              filesSkipped: Int, rowsLoaded: Long)

  /** IDEMPOTENT batch file ingestion — Databricks' `COPY INTO`: load
    * a folder of files into an existing table, skipping every file a
    * previous COPY already loaded, so the statement is safely
    * re-runnable (cron it; crashed runs just re-run). File identity
    * is the normalized PATH (a modified file does not re-load —
    * Delta's COPY contract; stage new data as new files).
    *
    * The idempotency state is a LEDGER protocol with commit-atomic
    * validity:
    *
    *  - each COPY writes `_copy/c-<uuid>.txt` (one `path\tsize\tmtime`
    *    line per loaded file) BEFORE publishing, and the commit's
    *    version meta carries `"copy":"<ledger>"` — so a ledger counts
    *    IFF a committed version references it. A crash between ledger
    *    write and publish leaves an orphan that never counts (and is
    *    reclaimed by vacuum past the orphan grace); a crash after
    *    publish loses nothing.
    *  - discovery costs ONE `_copy/` listing + the checkpoint+tail
    *    history read ([[historyRows]], which now carries copy refs):
    *    live versions' refs resolve their `c-` ledgers; `k-` ledgers
    *    (see below) are all read.
    *  - [[vacuum]] RENAMES a dropped version's `c-` ledger to `k-`
    *    before deleting the version file — loaded-file state outlives
    *    the commit that recorded it, exactly as Delta checkpoints
    *    carry txn actions past log truncation. A table's rows loaded
    *    at v5 are still present (carried by manifests) long after v5
    *    ages out; re-loading them would be corruption, not hygiene.
    *
    * Reads ONLY the new files (never a loaded byte), store-assigns to
    * the table's logged schema, and routes through [[append]] — the
    * constraint gate, schema drift checks, stats maintenance, and OCC
    * all apply unchanged. CSV/JSON read under the table schema with
    * `options` (header, delimiter, ...); parquet must carry exactly
    * the table's columns.
    *
    * Concurrency contract: idempotency is against COMMITTED state —
    * run one COPY per table at a time (the cron/Airflow shape).
    * TWO COPYs of the same folder racing each other can both read
    * "not loaded" before either commits and both append (Delta's
    * COPY INTO has the same single-runner expectation); racing a
    * COPY against OTHER writers is fully safe — the append OCC
    * serializes them.
    */
  def copyInto(spark: SparkSession, root: String, srcDir: String,
               format: String, options: Map[String, String] = Map.empty,
               pattern: Option[String] = None): CopyResult = {
    val fmt = format.toLowerCase
    require(Set("parquet", "csv", "json").contains(fmt),
      s"copyInto: unsupported FILEFORMAT $fmt (parquet, csv, json)")
    val v0 = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root has no committed versions — COPY INTO loads into an " +
          "existing table (CREATE it first)"))
    val m0 = versionMeta(spark, root, v0)
    requireLive(m0, root, "COPY INTO")
    require(m0.colmap.isIdentity, s"$root carries a column mapping — " +
      "materializeMapping before COPY INTO")
    // one listing of the source (glob when a pattern narrows it)
    val sp = new Path(srcDir)
    val sf = fs(spark, sp)
    val statuses = pattern match {
      case Some(p) => Option(sf.globStatus(new Path(sp, p)))
        .map(_.toSeq).getOrElse(Nil)
      case None => if (sf.exists(sp)) sf.listStatus(sp).toSeq else Nil
    }
    val files = statuses
      .filter(st => st.isFile && !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
      .map(st => (StatsIndex.normPath(st.getPath.toString), st.getLen,
        st.getModificationTime))
    val loaded = loadedCopyPaths(spark, root)
    val fresh = files.filterNot(t => loaded.contains(t._1))
    if (fresh.isEmpty)
      return CopyResult(v0, 0, files.size, 0L)
    val schema = schemaOf(spark, root, m0)
    val paths = fresh.map(_._1)
    val raw = fmt match {
      case "parquet" => spark.read.options(options).parquet(paths: _*)
      case other => spark.read.format(other).options(options)
        .schema(schema).load(paths: _*)
    }
    if (fmt == "parquet") {
      require(raw.columns.toSet == schema.fieldNames.toSet,
        s"copyInto: source columns ${raw.columns.toSet} != table " +
          s"${schema.fieldNames.toSet}")
    }
    // store assignment to the logged types (ANSI: lossy runtime
    // values refuse rather than corrupt)
    val df = raw.select(schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nRows = df.count()
      // ledger BEFORE publish; the commit's meta references it —
      // ledger validity IS commit success (one atomic rename)
      val ledgerRel =
        s"_copy/c-${java.util.UUID.randomUUID().toString.take(13)}.txt"
      val lp = new Path(root, ledgerRel)
      val lf = fs(spark, lp)
      val out = lf.create(lp, false)
      try out.write(fresh.map { case (p, len, mt) => s"$p\t$len\t$mt" }
        .mkString("\n").getBytes("UTF-8"))
      finally out.close()
      // reuse the table's stats columns so the copy-on-write writers
      // stay covered (same inheritance as the SQL partition insert)
      val statsCols = statsTableOf(spark, root, v0)
        .map(_.columns.toSeq.collect {
          case c if c.startsWith("min_") => c.stripPrefix("min_")
        }).getOrElse(Nil)
      val v = append(spark, df, root, statsCols, copyRef = Some(ledgerRel))
      CopyResult(v, fresh.size, files.size - fresh.size, nRows)
    } finally df.unpersist()
  }

  /** Every source path any COMMITTED COPY has loaded: the permanent
    * `k-` registry (vacuum-preserved ledgers of aged-out commits)
    * plus the live versions' own `c-` ledgers, discovered through the
    * checkpoint+tail history read. A `c-` ref whose file is gone was
    * renamed to `k-` by a vacuum that did not finish deleting its
    * version — the `k-` union already covers it.
    */
  private def loadedCopyPaths(spark: SparkSession, root: String)
      : Set[String] = {
    val copyDir = new Path(root, "_copy")
    val f = fs(spark, copyDir)
    val kept =
      if (!f.exists(copyDir)) Seq.empty[String]
      else f.listStatus(copyDir).toSeq
        .filter(_.getPath.getName.startsWith("k-"))
        .map(st => s"_copy/${st.getPath.getName}")
    val live = historyRows(spark, root).flatMap(_.copyRef).distinct
    (kept ++ live).flatMap(rel => readLedgerPaths(spark, root, rel)).toSet
  }

  private def readLedgerPaths(spark: SparkSession, root: String,
                              rel: String): Seq[String] = {
    val p = new Path(root, rel)
    val f = fs(spark, p)
    if (!f.exists(p)) Nil
    else {
      readUtf8(f, p).split('\n').toSeq.filter(_.nonEmpty).map(_.split('\t')(0))
    }
  }

  /** One attempt of a manifest-delta writer, planned against the
    * version it read ([[CowBase]]): what [[commitDelta]] cannot derive
    * for the writer.
    *
    *  - `rewritten`: the read version's files (root-relative) the
    *    rewrite re-reads and replaces;
    *  - `rewrite`: the rows to stage, given the LOGICAL rows of
    *    `rewritten` — [[commitDelta]] opens them under the read
    *    version's schema with its deletion vector applied, so a deleted
    *    row never resurrects;
    *  - `ddl`: the schema the new version logs;
    *  - `addedConflicts`: [[rebaseDelta]]'s predicate over the stats
    *    rows of the files an interleaved commit added;
    *  - `dropped`: files removed WITHOUT being read (a partition
    *    overwrite's path-proven files of a replaced tuple);
    *  - `compaction`: a layout-only rewrite ([[optimize]]): the row
    *    count stays the read version's, every file the vector names is
    *    re-read (so no vector carries), and a rewrite that carries
    *    nothing publishes its fresh dir as the version's layout;
    *  - `release`: runs once the staging write is over, whatever its
    *    outcome (unpersisting a frame the rewrite persisted).
    */
  private final case class CowPlan(rewritten: Seq[String],
      rewrite: DataFrame => DataFrame, ddl: Option[String],
      addedConflicts: DataFrame => Boolean,
      dropped: Seq[String] = Nil, compaction: Boolean = false,
      release: () => Unit = () => ())

  /** The version a [[commitDelta]] attempt read. Its file list and its
    * skipping index resolve on first use, so a writer that turns out
    * to have nothing to do reads neither.
    */
  private final class CowBase(spark: SparkSession, root: String,
                              val v: Long, val m: VMeta,
                              physStatsCols: Seq[String]) {
    lazy val rels: Seq[String] = relFilesOf(spark, root, m)

    /** The index as collected rows. The copy-on-write split runs
      * THROUGH it, so an index missing a live file would silently DROP
      * that file from the new version — fail loudly instead (one
      * driver-side distinct count against the file list).
      */
    lazy val statsRows: (org.apache.spark.sql.types.StructType,
                         Array[org.apache.spark.sql.Row]) = {
      val (schema, rows) = statsRowsOf(spark, root, m, physStatsCols)
      val fIdx = schema.fieldIndex("file")
      val nStats = rows.iterator.map(_.getString(fIdx)).toSet.size
      require(nStats == rels.size,
        s"stats index covers $nStats files but version has ${rels.size} — " +
          "rebuild via commitWithStats before copy-on-write commits")
      (schema, rows)
    }

    /** [[statsRows]] as a LocalRelation: projections and filters fold,
      * `collect()` is a driver handoff, and a broadcast builds from the
      * local rows — no Spark job (see [[statsRowsOf]]).
      */
    def stats: DataFrame = localStats(spark, statsRows._1, statsRows._2.toIndexedSeq)
  }

  /** Column set of a skipping index built on `cols`. */
  private def statsColumns(cols: Seq[String]): Set[String] =
    Set("file", "n_rows") ++ cols.flatMap(c =>
      Seq(s"min_$c", s"max_$c", s"nulls_$c"))

  /** The schema a writer logs: stored nullable, because files from
    * before an evolution genuinely yield nulls for added columns.
    */
  private def loggedDdl(schema: org.apache.spark.sql.types.StructType): String =
    asNullable(schema).toDDL

  private def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(schema.fields.map(_.copy(nullable = true)))

  /** The one copy-on-write commit of the manifest-delta writers
    * ([[merge]], [[mergeClauses]], [[deleteRange]],
    * [[replacePartition]]/[[replacePartitions]], [[optimize]]), one
    * [[occPublish]] plan: the read, tag and attempt budget are the
    * routine's (the FIRST attempt may reuse a caller-probed
    * `metaHint`). The writer `plans` against the version read (`Left`
    * = nothing to do: that receipt returns as-is). Then, on the
    * driver, the version splits into the carried complement and the
    * removed files; the deletion vector's entries for carried files
    * ride into a new vector (their positions stay valid — the files
    * are carried verbatim; removed files' entries die with them); the
    * rewritten files open LOGICALLY through [[logical]] and the
    * writer's `rewrite` of those rows stages into a fresh dir (no
    * writer re-reads a file itself); and the new version — carried
    * files BY REFERENCE plus the fresh dir — publishes at EXACTLY
    * readVersion+1.
    *
    * The skipping index on `statsCols` (logical names) rides the same
    * commit ([[writeIndex]]). Row accounting derives from it too
    * (stats `n_rows` is per-file PHYSICAL, so the carried vector's
    * size is subtracted). Only a compaction may run without one — its
    * row count is the read version's.
    *
    * A lost race first tries the generalized OCC re-base
    * ([[rebaseDelta]]): a delta provably disjoint from the interleaved
    * commits keeps its staged rewrite and vector carry and rebuilds
    * only the tiny manifest. Any conflict deletes the staged files and
    * re-plans against the new latest.
    */
  private def commitDelta(spark: SparkSession, root: String, what: String,
      statsCols: Seq[String], tag: Option[Long] = None,
      metaHint: Option[(Long, VMeta)] = None)
      (plan: CowBase => Either[CowResult, CowPlan]): CowResult =
    occPublish[CowResult](spark, root, what, tag, metaHint) { at =>
      val (v, m) = (at.v, at.m)
      // the files and the index carry PHYSICAL names; every writer but
      // a compaction refuses a column-mapped table in its plan
      val physStatsCols = statsCols.map(m.colmap.physicalOf)
      val base = new CowBase(spark, root, v, m, physStatsCols)
      plan(base).map { p =>
        val removed = (p.rewritten ++ p.dropped).toSet
        val carried = base.rels.filterNot(removed).sorted
        val indexed = physStatsCols.nonEmpty || !p.compaction
        val carriedStats =
          if (!indexed) None
          else {
            val (schema, rows) = base.statsRows
            val keep = carried.toSet
            val fIdx = schema.fieldIndex("file")
            Some((schema,
              rows.filter(r => keep(relOf(spark, root, r.getString(fIdx))))))
          }
        val (dvCarry, dvCarryN) =
          if (m.dv.isEmpty || carried.isEmpty || p.compaction) (None, 0L)
          else {
            val relDf = spark.createDataset(carried)(
              org.apache.spark.sql.Encoders.STRING).toDF("file")
            val kept = dvOf(spark, root, m).join(relDf, Seq("file"), "left_semi")
            val n = kept.count()
            if (n == 0L) (None, 0L)
            else {
              val dvRel = s"dv/d-${java.util.UUID.randomUUID().toString.take(13)}"
              kept.write.mode("overwrite").parquet(new Path(root, dvRel).toString)
              (Some(dvRel), n)
            }
          }
        val (freshDir, freshRows) =
          try writeDataDir(spark, p.rewrite(logical(spark, root, m, physical(spark,
              root, schemaOf(spark, root, m), p.rewritten))), root, m.parts, m.bucket)
          finally p.release()
        val freshRel = listFreshRel(spark, root, freshDir)
        val rows = carriedStats match {
          case Some((schema, cRows)) if !p.compaction =>
            val nIdx = schema.fieldIndex("n_rows")
            cRows.iterator.map(_.getLong(nIdx)).sum - dvCarryN + freshRows
          case _ => m.nRows
        }
        // a re-base composes rows additively (the file sets are
        // disjoint) and reuses the written vector carry as-is
        def publish(meta: VMeta, nCarried: Int,
                    stats: Option[(org.apache.spark.sql.types.StructType,
                                   Array[org.apache.spark.sql.Row])])
            : Publish[CowResult] =
          Publish(meta, nv => {
              stats.foreach(c => writeIndex(spark, root, meta, physStatsCols,
                freshRel, Some(c)))
              CowResult(nv, p.rewritten.size, removed.size + nCarried, freshRows)
            },
            staged = meta.manifest.toSeq, retained = freshDir +: dvCarry.toSeq,
            rebase = Some(m2 => rebaseDelta(spark, root, m, base.rels,
                removed, m2, carriedStats.map(_ => physStatsCols),
                p.addedConflicts)
              .map { case (carried2, stats2) =>
                publish(VMeta(None, Some(writeManifest(spark, root,
                    carried2 ++ freshRel)), m2.nRows + rows - m.nRows, tag,
                    p.ddl, dvCarry, m.constraints, m.parts, m.bucket, m.colmap),
                  carried2.size, stats2)
              }))
        publish(
          if (p.compaction && carried.isEmpty)
            VMeta(Some(freshDir), None, rows, tag, p.ddl, None,
              m.constraints, m.parts, m.bucket, m.colmap)
          else VMeta(None, Some(writeManifest(spark, root, carried ++ freshRel)),
            rows, tag, p.ddl, dvCarry, m.constraints, m.parts, m.bucket,
            m.colmap),
          carried.size, carriedStats)
      }
    }

  /** Write the skipping index of a just-published version `nm` on
    * `physStatsCols`: the carried files' rows verbatim plus one build
    * over the fresh files. A carried index built for DIFFERENT columns
    * cannot union with the fresh build — the whole layout rebuilds
    * instead of failing after the publish landed.
    */
  private def writeIndex(spark: SparkSession, root: String, nm: VMeta,
      physStatsCols: Seq[String], freshRel: Seq[String],
      carried: Option[(org.apache.spark.sql.types.StructType,
                       Array[org.apache.spark.sql.Row])]): Unit =
    if (carried.exists(_._1.fieldNames.toSet != statsColumns(physStatsCols)))
      ensureStats(spark, root, nm, physStatsCols)
    else {
      val (schema, all) = carried match {
        case Some(c) if freshRel.isEmpty => c
        case _ =>
          val (fSchema, fRows) = StatsIndex.buildRows(
            physical(spark, root, schemaOf(spark, root, nm), freshRel), physStatsCols)
          carried.fold((fSchema, fRows)) { case (cSchema, cRows) =>
            unionStatsRows(cSchema, cRows, fSchema, fRows)
          }
      }
      writeStatsRows(spark, root, nm.layoutId, schema, all)
    }

  /** Merge file targeting, shared by [[merge]] and [[mergeClauses]]:
    * files whose [min,max] on `key` can contain SOME source key, plus
    * no-stats files (conservative). The stats side is metadata-sized
    * and broadcast; the scan side is the source keys — one pass, no
    * shuffle of the table itself. Returns the distinct non-null key
    * frame (column `__mk`, [[addedKeyOverlap]]'s input) and the
    * touched files as the stats index names them.
    *
    * Bucket-aware refinement: when the table is bucketed on EXACTLY
    * the merge key, a key's candidate files are named by its bucket id
    * directly — `pmod(hash(key), n)` is both Spark's bucket function
    * and [[writeDataDir]]'s layout placement, so a file whose `_NNNNN`
    * tag is outside the source keys' bucket-id set provably contains
    * no source key, whatever its min/max range says. Both are sound
    * negatives; untagged files stay conservative. At scale this makes
    * a skew-heavy batch (one hot key range spanning every file's
    * [min,max]) still touch only its buckets.
    */
  private def keyTargets(stats: DataFrame, source: DataFrame, key: String,
                         bucket: Option[Bucketing]): (DataFrame, Seq[String]) = {
    val k = source.select(col(key).as("__mk"))
      .filter(col("__mk").isNotNull).distinct()
    val ranged = k.join(
        org.apache.spark.sql.functions.broadcast(
          stats.select(col("file"), col(s"min_$key"), col(s"max_$key"))),
        col("__mk") >= col(s"min_$key") && col("__mk") <= col(s"max_$key"))
      .select("file")
    val candidates = ranged.unionByName(
        stats.filter(col(s"min_$key").isNull || col(s"max_$key").isNull)
          .select("file"))
      .distinct()
    val touched = bucket match {
      case Some(b) if b.cols == Seq(key) =>
        import org.apache.spark.sql.functions.{hash, pmod, regexp_extract}
        // `source` must already carry the table key's EXACT logged type
        // (the callers cast it to the table schema): murmur3 hashes an
        // INT and a LONG of the same value differently, so a dtype
        // drift here would prune the WRONG buckets — a silently lost
        // update
        val hitIds = k
          .select(pmod(hash(col("__mk")), lit(b.n)).as("__bid"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val bid = regexp_extract(col("file"), "_(\\d+)\\.[^/]*$", 1)
        candidates.filter(bid === "" ||
          bid.cast("int").isin(hitIds.map(i => i: Any): _*))
      case _ => candidates
    }
    (k, touched.collect().map(_.getString(0)).sorted.toSeq)
  }

  /** Source-key sanity in ONE churn-sized aggregate pass: (a) the
    * cast to the table's logged key type must not null out any
    * non-null key — merge/mergeClauses cast with a plain (non-ANSI)
    * cast, and an uncastable key silently becoming NULL would turn an
    * update row into a null-key insert, a lost update; (b) when
    * `refuseDups`, duplicate non-null keys (post-cast) refuse loudly —
    * a matched target row joined to N source rows would be emitted N
    * times through the clause evaluation, silently multiplying table
    * rows (Delta's MERGE raises on multi-match for the same reason).
    */
  private def requireKeySane(source: DataFrame, key: String,
                             keyType: org.apache.spark.sql.types.DataType,
                             refuseDups: Boolean, what: String): Unit = {
    import org.apache.spark.sql.functions.{count_distinct, count, when}
    // try_cast, not cast: under ANSI (the session default) a plain
    // cast would THROW mid-aggregate on the first bad value — this
    // check exists to refuse EARLY and count exactly, and to stay a
    // guard under non-ANSI sessions where cast silently nulls
    val ck = col(key).try_cast(keyType)
    val r = source.agg(
      coalesce(sum(when(col(key).isNotNull && ck.isNull, 1L)
        .otherwise(0L)), lit(0L)),
      count(ck), count_distinct(ck)).head()
    require(r.getLong(0) == 0L,
      s"$what: ${r.getLong(0)} source rows carry a '$key' value that " +
        s"does not cast to the table's $keyType — a silently NULLed key " +
        "would turn an update into an insert; fix the source dtype")
    require(!refuseDups || r.getLong(1) == r.getLong(2),
      s"$what: source has ${r.getLong(1) - r.getLong(2)} duplicate " +
        s"'$key' keys — a multi-matched target row would be emitted once " +
        "per duplicate; de-duplicate the source first")
  }

  /** COPY-ON-WRITE row-level MERGE (upsert semantics — the Delta
    * `MERGE INTO` analogue): rows of the latest version whose `key`
    * matches an update row are REPLACED, all update rows land (so
    * unmatched update keys INSERT), and — the scale contract — only
    * the files that CAN contain an update key are rewritten. File
    * targeting is metadata ([[keyTargets]]): the version's per-file
    * min/max stats on `key` ([[commitWithStats]]'s index) joined
    * against the update keys (stats broadcast — one pass over the
    * updates, no all-pairs); files whose range misses every update key
    * are carried into the new version BY REFERENCE via the manifest.
    * A key-localized update batch against a key-clustered layout
    * therefore rewrites O(batch locality) files out of millions —
    * which is the only shape row-level mutation can take at 100 TB.
    *
    * Semantics notes (both standard): a NULL update key never
    * matches (it inserts; existing null-key rows survive), and
    * updates should be key-distinct — duplicate update keys all
    * insert, as in a multi-match MERGE.
    *
    * Conflict-safe through [[commitDelta]] (publish at readVersion+1;
    * a lost race re-bases when no interleaved file can hold an update
    * key, else the rewrite is recomputed against the new latest). The
    * new version's stats index reuses the untouched files' rows
    * verbatim and rebuilds only the fresh dir.
    */
  def merge(spark: SparkSession, updates: DataFrame, root: String,
            key: String, statsCols: Seq[String],
            tag: Option[Long] = None,
            metaHint: Option[(Long, VMeta)] = None): CowResult = {
    require(statsCols.contains(key),
      s"merge key $key must be a stats column for file targeting")
    // persist the SOURCE PLAN once, before any pass: the constraint
    // gate, the key-sanity aggregate, the file targeting, and the
    // rewrite each read the batch — for a view-backed or computed
    // source those were four evaluations of the source plan per
    // statement. Churn-sized by the merge contract, so caching it is
    // bounded; unpersisted on every exit path. A source the CALLER
    // already persisted is used as-is — unpersisting here would
    // silently evict their shared cache entry.
    val preCached =
      updates.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val updRaw = if (preCached) updates
      else updates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try commitDelta(spark, root, "merge", statsCols, tag, metaHint) { base =>
      val m = base.m
      require(m.colmap.isIdentity, s"$root carries a column mapping — " +
        "materializeMapping before merge")
      val tableSchema = schemaOf(spark, root, m)
      val tableCols = tableSchema.fieldNames
      require(updRaw.columns.toSet == tableCols.toSet,
        s"updates schema ${updRaw.columns.toSet} != table ${tableCols.toSet}")
      // MERGE writes rows too: the update batch faces the same CHECK
      // gate as an append (one pass over the batch)
      requireSatisfied(updRaw, m.constraints, "merge updates")
      // cast to the table's EXACT logged types: a name-matching batch
      // with drifted types (Int vs Long) would otherwise (a) hash to
      // the wrong buckets in [[keyTargets]] and (b) widen the
      // rewrite through the union into files the logged schema DDL
      // cannot read back. The cast must be LOSSLESS on the key
      // (duplicates stay allowed here — they all insert, the
      // documented multi-match semantics).
      requireKeySane(updRaw, key, tableSchema(key).dataType,
        refuseDups = false, "merge")
      val upd = updRaw.select(tableSchema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      val (k, touched) = keyTargets(base.stats, upd, key, m.bucket)
      Right(CowPlan(touched.map(f => relOf(spark, root, f)),
        // nothing touched: the updates are the rewrite (an anti-join
        // against the empty scan would still plan the key distinct)
        rows =>
          if (touched.isEmpty) upd
          else rows.join(upd.select(col(key)).distinct(), Seq(key), "left_anti")
            .unionByName(upd),
        // the table schema rides the log forward — dropping it here
        // would hand a post-evolution table back to footer inference,
        // where a pre-evolution sample file wins and the added column
        // silently vanishes
        Some(loggedDdl(tableSchema)),
        addedKeyOverlap(k, key)))
    } finally if (!preCached) updRaw.unpersist()
  }

  /** One `WHEN MATCHED` clause of a [[mergeClauses]] call, evaluated
    * in declaration order (SQL MERGE semantics: first clause whose
    * condition holds wins; a row matching no clause is KEPT). The
    * condition sees BOTH sides through their statement aliases
    * (`t.price < u.price`); `set = None` is `UPDATE SET *` (the
    * source row becomes the new image), `set = Some(...)` replaces
    * the named columns with expressions over both aliases.
    */
  sealed trait MatchedClause { def cond: Option[Column] }
  final case class MatchedUpdate(cond: Option[Column],
                                 set: Option[Seq[(String, Column)]])
      extends MatchedClause
  final case class MatchedDelete(cond: Option[Column]) extends MatchedClause

  /** One `WHEN NOT MATCHED [AND cond] THEN INSERT` clause of a
    * [[mergeClauses]] call. Clauses evaluate in declaration order
    * with FIRST-MATCH-WINS (SQL MERGE's multi-insert rule): each
    * unmatched source row takes the first clause whose condition
    * holds; a row matching no clause is not inserted. `set = None`
    * is `INSERT *` (carried source columns, NULL-fill the rest);
    * `set = Some(...)` is the column-list `INSERT (cols) VALUES
    * (exprs)` — named columns take their expressions (over the
    * source alias), unnamed columns NULL-fill.
    */
  final case class InsertClause(cond: Option[Column],
                                set: Option[Seq[(String, Column)]])

  /** First-clause-wins evaluation plan shared by the MATCHED and
    * NOT-MATCHED-BY-SOURCE sides of [[mergeClauses]] (one copy of the
    * fold, the id sets, the count aggregate, and the per-column image
    * builder — the two sides differ ONLY in how `UPDATE SET *`
    * renders, which `star` supplies). `idCol` holds the action id
    * (clause i fires as i+1, 0 = keep).
    */
  private final case class ClausePlan(clauses: Seq[MatchedClause],
                                      idCol: String, targetAlias: String,
                                      star: org.apache.spark.sql.types.StructField => Column,
                                      base: org.apache.spark.sql.types.StructField => Column) {
    /** Action id under first-clause-wins. */
    val action: Column = clauses.zipWithIndex.reverse.foldLeft(lit(0)) {
      case (acc, (cl, i)) =>
        org.apache.spark.sql.functions.when(
          cl.cond.getOrElse(lit(true)), lit(i + 1)).otherwise(acc)
    }
    private val updIds = clauses.zipWithIndex.collect {
      case (_: MatchedUpdate, i) => i + 1 }
    private val delIds = clauses.zipWithIndex.collect {
      case (_: MatchedDelete, i) => i + 1 }
    private def in(ids: Seq[Int]): Column =
      if (ids.isEmpty) lit(false) else col(idCol).isin(ids: _*)
    def updates: Column = in(updIds)
    def deletes: Column = in(delIds)
    /** One aggregate pass yields both action counts. */
    def counts(classified: DataFrame): (Long, Long) = {
      val r = classified.agg(
        coalesce(sum(org.apache.spark.sql.functions
          .when(updates, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(org.apache.spark.sql.functions
          .when(deletes, 1L).otherwise(0L)), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    /** Per-column image: update clauses in order, else the BASE (the
      * target's value for a pre-existing column; NULL for a column
      * the target's files do not carry yet — schema evolution). */
    def image(c: org.apache.spark.sql.types.StructField): Column =
      imageExpr(c).as(c.name)

    /** [[image]] without the output alias — composable inside a
      * larger CASE (the fused matched/kept projection). */
    def imageExpr(c: org.apache.spark.sql.types.StructField): Column =
      clauses.zipWithIndex.collect { case (u: MatchedUpdate, i) =>
        val img = u.set match {
          case None => star(c)
          case Some(assigns) => assigns.collectFirst {
            case (n, e) if n.equalsIgnoreCase(c.name) => e.cast(c.dataType)
          }.getOrElse(base(c))
        }
        (i + 1, img)
      }.foldRight(base(c)) { case ((id, img), acc) =>
        org.apache.spark.sql.functions.when(col(idCol) === id, img)
          .otherwise(acc)
      }
  }

  /** What a clause-form merge did: the bounded-rewrite receipt plus
    * the per-action row accounting. `insertedPerClause` breaks
    * `rowsInserted` down by insert clause in declaration order (the
    * first-match-wins routing receipt; one entry per clause).
    */
  final case class MergeClausesResult(version: Long, filesRewritten: Int,
                                      filesTotal: Int, rowsUpdated: Long,
                                      rowsDeleted: Long, rowsInserted: Long,
                                      insertedPerClause: Seq[Long] = Nil)

  /** General `MERGE INTO` — [[merge]]'s upsert generalized to the
    * full conditional clause vocabulary (Delta's MERGE semantics):
    *
    * {{{
    *   WHEN MATCHED [AND pred] THEN UPDATE SET * | SET c = e, ...
    *   WHEN MATCHED [AND pred] THEN DELETE
    *   WHEN NOT MATCHED [AND pred] THEN INSERT * | INSERT (cols) VALUES (...)
    *   WHEN NOT MATCHED BY SOURCE [AND pred] THEN UPDATE SET c = e | DELETE
    * }}}
    *
    * `notMatchedBySource` is the DIMENSION-SYNC shape (expire/delete
    * target rows absent from the feed — the reference's quarantine
    * cleanup in its full form, REF README.md:119): it evaluates on
    * target rows with NO source match, so it is inherently O(table) —
    * the targeting honestly admits every file and the receipt reports
    * the full rewrite (filesRewritten == filesTotal). Conditions and
    * SET expressions there may reference TARGET columns only, and
    * UPDATE needs explicit assignments (no source row for SET *).
    *
    * The source may carry a COLUMN SUBSET of the table (key
    * included): UPDATE SET * updates the carried columns only, INSERT
    * * NULL-fills the missing ones; extra columns refuse WHEN any
    * star action could silently absorb them — a statement whose every
    * action is explicit may carry source-only discriminator columns
    * (the CDC-apply `_change_type` idiom). An insert clause with
    * explicit assignments (the column-list insert) builds inserted
    * rows from its expressions and NULL-fills unnamed columns; the
    * general `inserts` list takes SEVERAL conditional insert clauses,
    * evaluated first-match-wins in declaration order (SQL MERGE's
    * multi-insert rule), with per-clause counts in the receipt. With
    * `evolveSchema`, NEW source columns extend the logged schema
    * (ADD-only) and shared columns whose source type is a LOSSLESS
    * WIDENING of the logged type widen it (int→long, float→double,
    * decimal growth — [[isLosslessWidening]]); pre-widening files
    * read up through the widened logged schema.
    *
    * The SCALE CONTRACT otherwise is [[merge]]'s, unchanged: file targeting by
    * the update keys against the per-file min/max stats (broadcast,
    * one pass over the source, the table itself never shuffles),
    * refined by bucket ids on a key-bucketed table
    * ([[keyTargets]]); every file that cannot contain a source key
    * carries into the new version BY REFERENCE. Matched rows
    * evaluate the clauses in order — first condition that holds
    * wins, no clause → the row is kept; unmatched source rows insert
    * when the insert clause (and its condition) admits them. NULL
    * keys never match on either side (they insert / survive — the
    * [[merge]] rule); duplicate source keys REFUSE when the
    * statement has MATCHED clauses (a multi-matched target row would
    * rewrite once per duplicate — Delta's multi-match error), and
    * are legal otherwise (matched targets keep exactly once,
    * unmatched duplicates each insert).
    * Updated and inserted images face the table's CHECK constraints;
    * the receipt's row accounting costs one aggregate plus one
    * anti-join count over PERSISTED churn-sized frames (the touched
    * parquet files and the source scan each run once, never
    * table-sized). Publishes at readVersion+1 with the usual
    * conflict check.
    *
    * `targetAlias`/`sourceAlias` are the STATEMENT aliases clause
    * conditions refer to (`MERGE INTO t ... USING u`): conditions
    * resolve against the joined (target-alias × source-alias) frame,
    * exactly as the SQL analyzer would.
    */
  def mergeClauses(spark: SparkSession, source: DataFrame, root: String,
                   key: String, statsCols: Seq[String],
                   targetAlias: String, sourceAlias: String,
                   matched: Seq[MatchedClause],
                   insertCond: Option[Option[Column]],
                   notMatchedBySource: Seq[MatchedClause] = Nil,
                   tag: Option[Long] = None,
                   evolveSchema: Boolean = false,
                   inserts: Seq[InsertClause] = Nil,
                   metaHint: Option[(Long, VMeta)] = None)
      : MergeClausesResult = {
    require(statsCols.contains(key),
      s"merge key $key must be a stats column for file targeting")
    require(targetAlias != sourceAlias,
      s"target and source aliases must differ, both are '$targetAlias'")
    // two spellings of the insert side: `inserts` is the general
    // ORDERED clause list (first-match-wins); insertCond is the
    // single INSERT * clause older callers use. Exactly one form.
    require(inserts.isEmpty || insertCond.isEmpty,
      "give ordered `inserts` OR the single insertCond form")
    val ins: Seq[InsertClause] =
      if (inserts.nonEmpty) inserts
      else insertCond.map(c => InsertClause(c, None)).toSeq
    require(matched.nonEmpty || ins.nonEmpty || notMatchedBySource.nonEmpty,
      "mergeClauses needs at least one WHEN clause")
    // the COLUMN-LIST insert (`INSERT (cols) VALUES (exprs)` — the
    // shape generated SQL tools emit): named columns take their
    // expressions (over the source alias), unnamed table columns
    // NULL-fill, exactly the column-list INSERT rule
    ins.foreach(_.set.foreach { assigns =>
      require(assigns.nonEmpty, "INSERT (cols) VALUES needs columns")
      val names = assigns.map(_._1.toLowerCase)
      require(names.distinct.size == names.size,
        s"duplicate INSERT columns in ${assigns.map(_._1).mkString(", ")}")
    })
    // WHEN NOT MATCHED BY SOURCE clauses see no source row: UPDATE
    // needs explicit assignments (SET * is meaningless) and both
    // forms may reference TARGET columns only
    notMatchedBySource.foreach {
      case MatchedUpdate(_, None) => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE needs SET assignments — " +
          "there is no source row for UPDATE SET *")
      case _ => ()
    }
    // persist the SOURCE PLAN once, before any pass (see [[merge]]):
    // the key-sanity aggregate, the file targeting, the clause
    // counts, and the rewrite all read from the one materialized
    // frame — never re-evaluating a view-backed source's plan. A
    // caller-persisted source is used as-is (their cache, their
    // lifecycle).
    val preCached =
      source.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val srcRaw = if (preCached) source
      else source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeClausesBody(spark, srcRaw, root, key, statsCols, targetAlias,
      sourceAlias, matched, ins, notMatchedBySource, tag, evolveSchema,
      metaHint)
    finally if (!preCached) srcRaw.unpersist()
  }

  /** Lossless type widenings the schema-evolution gate admits
    * (Delta's type-widening feature set, restricted to conversions
    * the parquet readers perform): the integral chain, float→double,
    * int-or-smaller→double (53-bit mantissa covers 32-bit ints
    * exactly), and decimal precision/scale growth that loses neither
    * integer digits nor fraction digits. Everything else — narrowing,
    * long→double, string↔number — is lossy or ambiguous and refuses.
    */
  private def isLosslessWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case _ => false
    }
  }

  private def mergeClausesBody(spark: SparkSession, source: DataFrame,
                   root: String, key: String, statsCols: Seq[String],
                   targetAlias: String, sourceAlias: String,
                   matched: Seq[MatchedClause],
                   inserts: Seq[InsertClause],
                   notMatchedBySource: Seq[MatchedClause],
                   tag: Option[Long],
                   evolveSchema: Boolean,
                   metaHint: Option[(Long, VMeta)]): MergeClausesResult = {
    // star actions take the source's carried columns BY NAME, so an
    // unexpected extra source column is a silent feed drift there —
    // but a statement whose every action is EXPLICIT (SET c = e,
    // INSERT (cols) VALUES) references exactly what it names, and its
    // extra source columns are plain clause-condition discriminators
    // (the CDC-apply `_change_type` idiom; ANSI MERGE sources are
    // arbitrary relations). Refuse extras only where they can bite.
    val starUsed = matched.exists {
      case MatchedUpdate(_, None) => true
      case _ => false
    } || inserts.exists(_.set.isEmpty)
    // the action counts of the attempt that committed: its rewrite's
    // observed metrics, readable once its staging write ran
    var receipt: () => (Long, Long, Long, Seq[Long]) = () => (0L, 0L, 0L, Nil)
    val r = commitDelta(spark, root, "mergeClauses", statsCols, tag,
        metaHint) { base =>
      val m = base.m
      require(m.colmap.isIdentity, s"$root carries a column mapping — " +
        "materializeMapping before merge")
      val tableSchema = schemaOf(spark, root, m)
      val tableCols = tableSchema.fieldNames.toSeq
      // COLUMN-SUBSET sources (the real upsert-feed shape: (key,
      // changed-cols) only): the source may carry any subset of the
      // table's columns as long as the key rides along — UPDATE SET *
      // updates only the carried columns (the rest keep their target
      // values) and INSERT * NULL-fills the missing ones (the
      // column-list INSERT rule). Extra columns still refuse loudly.
      val srcColSet = source.columns.toSet
      // MERGE WITH SCHEMA EVOLUTION (Delta's ADD-only semantics):
      // source columns outside the table extend the logged schema as
      // nullable fields — matched UPDATE SET * and INSERT * fill
      // them from the source, every other row (kept target rows AND
      // the untouched files carried by reference) surfaces NULL via
      // the schema-in-the-log read. Without the flag, extra columns
      // refuse as before (silent feed drift is a bug, not evolution).
      val extraFields = source.schema.fields.toSeq
        .filter(f => !tableCols.contains(f.name))
      if (evolveSchema)
        extraFields.foreach(f => require(
          !tableCols.exists(_.equalsIgnoreCase(f.name)),
          s"schema evolution: source column ${f.name} case-collides with " +
            "an existing table column"))
      else if (starUsed)
        require(extraFields.isEmpty,
          s"source columns ${(srcColSet -- tableCols.toSet).mkString(", ")} " +
            s"are not columns of $root (${tableCols.mkString(", ")}) — " +
            "pass evolveSchema / WITH SCHEMA EVOLUTION to ADD them, or " +
            "use explicit SET / INSERT (cols) VALUES clauses to carry " +
            "source-only discriminator columns")
      // else: explicit-only statement — extra source columns ride the
      // source alias for clause conditions/expressions and never
      // enter the table schema or any image
      require(srcColSet.contains(key),
        s"merge key $key is missing from the source columns")
      // TYPE WIDENING (Delta's second evolution axis): with the flag,
      // a shared column whose SOURCE type is a lossless widening of
      // the logged type widens the logged schema — the commonest real
      // feed drift after new-column (an int key becoming long).
      // Carried files keep their narrower physical type and read up
      // through the widened logged schema (the parquet readers
      // perform exactly the admitted conversions); anything lossy
      // refuses with the module's usual discipline. Partition/bucket
      // columns never widen: existing files were PLACED under hashes/
      // paths of the narrow type, and a re-typed key would silently
      // mis-bucket (a wrong shuffle-free join later).
      val widened: Map[String, org.apache.spark.sql.types.DataType] =
        if (!evolveSchema) Map.empty
        else source.schema.fields.toSeq.flatMap { f =>
          tableSchema.fields.find(_.name == f.name) match {
            case Some(tf) if tf.dataType != f.dataType =>
              if (isLosslessWidening(tf.dataType, f.dataType)) {
                require(!m.parts.contains(f.name) &&
                    !m.bucket.exists(_.cols.contains(f.name)),
                  s"schema evolution: cannot widen ${f.name} — it is a " +
                    "partition/bucket column (existing files were laid out " +
                    "under the narrower type)")
                Some(f.name -> f.dataType)
              } else {
                // a NARROWER source column is not an evolution — it
                // casts UP to the logged type losslessly, exactly as
                // it would without the flag (an int producer keeps
                // feeding a long-widened table); anything where
                // neither direction is lossless refuses
                require(isLosslessWidening(f.dataType, tf.dataType),
                  s"schema evolution: source column ${f.name} is " +
                    s"${f.dataType.simpleString} but the table logs " +
                    s"${tf.dataType.simpleString} — only lossless widenings " +
                    "(integral chain, float->double, decimal growth) evolve; " +
                    "a lossy type change needs an explicit rewrite")
                None
              }
            case _ => None
          }
        }.toMap
      // the table schema with widenings applied — what target files
      // read AS and what the new version logs for the shared columns
      val tableSchemaW = org.apache.spark.sql.types.StructType(
        tableSchema.fields.map(f => widened.get(f.name)
          .map(t => f.copy(dataType = t)).getOrElse(f)))
      val outSchema = org.apache.spark.sql.types.StructType(
        tableSchemaW.fields ++
          (if (evolveSchema) extraFields.map(_.copy(nullable = true))
           else Nil))
      val outCols = outSchema.fieldNames.toSeq
      val tableColSet = tableCols.toSet
      // SET targets must name real columns — matched with Spark's
      // case-insensitive resolution, and validated HERE so a typo'd
      // assignment errors instead of silently keeping the old value
      // while the receipt counts the row as updated
      (matched ++ notMatchedBySource).foreach {
        case MatchedUpdate(_, Some(assigns)) => assigns.foreach { case (n, _) =>
          require(outCols.exists(_.equalsIgnoreCase(n)),
            s"merge SET target $n is not a column of $root " +
              s"(${outCols.mkString(", ")})")
        }
        case _ => ()
      }
      // column-list INSERT targets validate the same way, per clause
      inserts.foreach(_.set.foreach(_.foreach { case (n, _) =>
        require(outCols.exists(_.equalsIgnoreCase(n)),
          s"merge INSERT column $n is not a column of $root " +
            s"(${outCols.mkString(", ")})")
      }))
      // cast to the table's EXACT logged types (see [[merge]]): wrong
      // bucket hashes and union-widened unreadable files both start
      // as a silent dtype drift. The key cast must be lossless; with
      // MATCHED clauses the source must also be key-distinct — a
      // multi-matched target row would be emitted once per duplicate
      // through the clause join, silently multiplying table rows
      // (Delta's MERGE raises on multi-match for the same reason). An
      // insert-only / dimension-sync merge tolerates duplicates: its
      // matched rows keep via a semi-join and its NMBS/insert sides
      // anti-join, none of which can multiply (unmatched duplicate
      // keys each insert — SQL MERGE's documented multi-row insert)
      requireKeySane(source, key, tableSchemaW(key).dataType,
        refuseDups = matched.nonEmpty, "mergeClauses")
      val srcFields = outSchema.fields.toSeq.filter(f =>
        srcColSet.contains(f.name))
      // source-only discriminator columns (explicit-only statements)
      // ride the projection UNCAST — clause conditions reference them
      // through the source alias; they are in no image and no schema
      val passThru =
        if (evolveSchema) Nil
        else source.schema.fields.toSeq
          .filterNot(f => outSchema.fieldNames.contains(f.name))
          .map(f => col(f.name))
      val src = source.select(srcFields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)) ++ passThru: _*)
      // file targeting — [[keyTargets]], shared with [[merge]]. EXCEPT
      // with WHEN NOT MATCHED BY SOURCE clauses: those evaluate on
      // target rows ABSENT from the source, which any file can hold, so
      // the statement is honestly O(table) — every file is a candidate
      // and the receipt reports the full rewrite truthfully
      // (filesRewritten == filesTotal). That is the inherent cost of
      // the dimension-sync shape; no stats pruning can bound it.
      val targets =
        if (notMatchedBySource.nonEmpty) None
        else Some(keyTargets(base.stats, src, key, m.bucket))
      val touchedList = targets.map(_._2).getOrElse(
        base.stats.select("file").collect().map(_.getString(0)).sorted.toSeq)
      var staged: Option[DataFrame] = None
      Right(CowPlan(touchedList.map(f => relOf(spark, root, f)), rows => {
        // clause evaluation over the (touched × source) join — both
        // sides presented under their statement aliases so conditions
        // and assignments resolve exactly as the SQL analyzer would
        // the churn-sized inputs are read by the count/check passes AND
        // the final write — persist them so the touched parquet files
        // and the source scan run ONCE, not once per pass
        // touched rows cast to the WIDENED shared-column schema, so
        // every image below is already widened (no mixed-type unions)
        val touchedRows = rows.select(tableSchemaW.fields.toSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)): _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        staged = Some(touchedRows)
        // `src` is a cheap cast over the persisted raw source — every
        // pass below reads cached partitions, never the source plan
        val tgtA = touchedRows.alias(targetAlias)
        val srcA = src.alias(sourceAlias)
        // the matched side: UPDATE SET * takes the source's carried
        // columns (subset sources keep the rest from the target; an
        // evolved column's base is NULL — the target's files never
        // carried it)
        val colBase = (c: org.apache.spark.sql.types.StructField) =>
          if (tableColSet.contains(c.name)) col(s"$targetAlias.${c.name}")
          else lit(null).cast(c.dataType)
        val mPlan = ClausePlan(matched, "__ma", targetAlias,
          c => if (srcColSet.contains(c.name))
            col(s"$sourceAlias.${c.name}").cast(c.dataType)
          else colBase(c),
          colBase)
        val nPlanOpt =
          if (notMatchedBySource.isEmpty) None
          else Some(ClausePlan(notMatchedBySource, "__na", targetAlias,
            _ => throw new IllegalStateException(
              "unreachable: NOT MATCHED BY SOURCE SET * refused upstream"),
            colBase))
        // (r16) action counts ride the WRITE job as observed metrics
        // (CollectMetrics) instead of separate pre-write aggregates
        // that re-evaluated the clause joins — read back after
        // writeDataDir (or after the constraint gate, whichever
        // action completes the plan first; the counts are identical).
        // Filters never push through CollectMetrics, so the observe
        // below the !deletes filter sees every matched row.
        //
        // (r17) ONE pass over the touched rows: matched and kept rows
        // both derive from a single LEFT OUTER clause join (source
        // presence marker `__sp`) instead of an inner join PLUS an
        // anti join — each touched row scans once, the source
        // broadcasts once, and every matched/NMBS action count rides
        // one CollectMetrics node. Sound exactly when source keys are
        // DISTINCT (each target row meets at most one source row),
        // which `requireKeySane(refuseDups = matched.nonEmpty)`
        // guarantees on this path; with NO matched clauses duplicate
        // source keys are legal and the duplicate-tolerant SEMI/ANTI
        // shape below is kept instead.
        //
        // `matchedKept` = every surviving target-derived row (matched
        // survivors + kept rows); `gateMatched`/`gateNmbs` = the CHECK
        // gate's view (all matched survivors; only the UPDATED kept
        // images — unmodified kept rows passed at their own write
        // time); `counts()` reads (mUpd, mDel, nmbsUpd, nmbsDel) back
        // from the observation(s) after the first completed action.
        val (matchedKept, gateMatched, gateNmbs, counts) =
          if (matched.isEmpty || nPlanOpt.nonEmpty) {
            // the r16 two-join shape, kept for exactly two cases:
            // (a) NO matched clauses — duplicate source keys are
            // legal, so matched target rows keep via a SEMI join (one
            // copy per target row, whatever the source's key
            // multiplicity); (b) WHEN NOT MATCHED BY SOURCE clauses —
            // those bind against a SOURCE-FREE kept frame (the
            // left-anti side) so a source-column reference fails
            // analysis per the documented target-columns-only
            // contract, and a bare target name resolves unambiguously
            // (the fused left-outer frame below carries the source
            // columns as NULLs, which would silently change both).
            val obsM = if (matched.isEmpty) None else Some(
              org.apache.spark.sql.Observation(
                s"graft_mc_m_${java.util.UUID.randomUUID().toString.take(8)}"))
            val matchedOut =
              if (matched.isEmpty)
                tgtA.join(src.select(col(key).as("__mk3")),
                    col(s"$targetAlias.$key") === col("__mk3"), "left_semi")
                  .select(outSchema.fields.toSeq.map(f =>
                    colBase(f).cast(f.dataType).as(f.name)): _*)
              else {
                val joined = tgtA.join(srcA,
                  col(s"$targetAlias.$key") === col(s"$sourceAlias.$key"),
                  "inner")
                val classified0 = joined.withColumn("__ma", mPlan.action)
                val classified = obsM.fold(classified0)(o =>
                  classified0.observe(o,
                    coalesce(sum(when(mPlan.updates, 1L).otherwise(0L)),
                      lit(0L)).as("mu"),
                    coalesce(sum(when(mPlan.deletes, 1L).otherwise(0L)),
                      lit(0L)).as("md")))
                classified.filter(!mPlan.deletes)
                  .select(outSchema.fields.toSeq.map(mPlan.image): _*)
              }
            val keptBase = touchedRows.alias(targetAlias).join(
                src.select(col(key).as("__mk2")), col(key) === col("__mk2"),
                "left_anti")
            val (keptTgt, nmbsChecked, obsN) = nPlanOpt match {
              case None =>
                (keptBase.select(outSchema.fields.toSeq.map(f =>
                  colBase(f).as(f.name)): _*), None, None)
              case Some(nPlan) =>
                val o = org.apache.spark.sql.Observation(
                  s"graft_mc_n_${java.util.UUID.randomUUID().toString.take(8)}")
                val cls = keptBase.withColumn("__na", nPlan.action).observe(o,
                  coalesce(sum(when(nPlan.updates, 1L).otherwise(0L)), lit(0L))
                    .as("nu"),
                  coalesce(sum(when(nPlan.deletes, 1L).otherwise(0L)), lit(0L))
                    .as("nd"))
                val kept = cls.filter(!nPlan.deletes)
                  .select(outSchema.fields.toSeq.map(nPlan.image): _*)
                val checked = cls.filter(nPlan.updates)
                  .select(outSchema.fields.toSeq.map(nPlan.image): _*)
                (kept, Some(checked), Some(o))
            }
            (matchedOut.unionByName(keptTgt), matchedOut, nmbsChecked,
              () => {
                val (mu, md) = obsM.map(o => (o.get("mu").asInstanceOf[Long],
                  o.get("md").asInstanceOf[Long])).getOrElse((0L, 0L))
                val (nu, nd) = obsN.map(o => (o.get("nu").asInstanceOf[Long],
                  o.get("nd").asInstanceOf[Long])).getOrElse((0L, 0L))
                (mu, md, nu, nd)
              })
          } else {
            // (r17) the FUSED shape — matched clauses present, no
            // NMBS: ONE LEFT OUTER clause join derives matched AND
            // kept rows in a single pass over the touched rows
            // (source presence marker), instead of an inner join PLUS
            // an anti join; sound because the source is key-distinct
            // here (requireKeySane(refuseDups = true) above). The
            // presence-marker name must collide with NO column of
            // either side (a source discriminator or target column
            // literally named __sp would be silently clobbered or
            // ambiguous otherwise).
            val spCol = Iterator.iterate("__sp")(_ + "_").find(n =>
              !src.columns.contains(n) && !touchedRows.columns.contains(n)).get
            val srcP = src.withColumn(spCol, lit(1))
            val lo = tgtA.join(srcP.alias(sourceAlias),
              col(s"$targetAlias.$key") === col(s"$sourceAlias.$key"),
              "left_outer")
            val matchedF = col(spCol).isNotNull
            // the action id evaluates only on matched rows: an
            // unconditional matched clause must not claim kept rows
            // (whose source columns are all NULL); a row with action
            // 0 images as BASE, so one image plan serves both sides
            val acted0 = lo.withColumn("__ma",
              when(matchedF, mPlan.action).otherwise(lit(0)))
            val o = org.apache.spark.sql.Observation(
              s"graft_mc_m_${java.util.UUID.randomUUID().toString.take(8)}")
            val acted = acted0.observe(o,
              coalesce(sum(when(mPlan.updates, 1L).otherwise(0L)), lit(0L))
                .as("mu"),
              coalesce(sum(when(mPlan.deletes, 1L).otherwise(0L)), lit(0L))
                .as("md"))
            val survivors = acted.filter(!mPlan.deletes)
              .select(outSchema.fields.toSeq.map(mPlan.image): _*)
            val gateM = acted.filter(matchedF && !mPlan.deletes)
              .select(outSchema.fields.toSeq.map(mPlan.image): _*)
            (survivors, gateM, None,
              () => (o.get("mu").asInstanceOf[Long],
                o.get("md").asInstanceOf[Long], 0L, 0L))
          }
        // INSERT * on a column-subset source NULL-fills the columns
        // the source does not carry; an explicit column list
        // (`INSERT (cols) VALUES (exprs)`) takes each named column's
        // expression (over the source alias) and NULL-fills the rest
        // — both are the column-list INSERT rule. Several clauses
        // evaluate FIRST-MATCH-WINS (SQL MERGE's multi-insert rule):
        // `__ic` routes each unmatched source row to the first clause
        // whose condition holds; unrouted rows are not inserted.
        def clauseImage(cl: InsertClause,
                        f: org.apache.spark.sql.types.StructField): Column =
          cl.set match {
            case Some(assigns) => assigns.collectFirst {
              case (n, e) if n.equalsIgnoreCase(f.name) => e.cast(f.dataType)
            }.getOrElse(lit(null).cast(f.dataType))
            case None =>
              if (srcColSet.contains(f.name)) col(f.name)
              else lit(null).cast(f.dataType)
          }
        val (inserted, obsI) =
          if (inserts.isEmpty)
            (touchedRows.filter(lit(false))
              .select(outSchema.fields.toSeq.map(f =>
                if (tableColSet.contains(f.name)) col(f.name)
                else lit(null).cast(f.dataType).as(f.name)): _*),
              None)
          else {
            val route = inserts.zipWithIndex
              .foldRight(lit(-1): Column) { case ((cl, i), acc) =>
                org.apache.spark.sql.functions.when(
                  cl.cond.getOrElse(lit(true)), lit(i)).otherwise(acc)
              }
            // the per-clause receipt (first-match-wins routing,
            // machine-checkable) rides the write as observed metrics
            val o = org.apache.spark.sql.Observation(
              s"graft_mc_i_${java.util.UUID.randomUUID().toString.take(8)}")
            val cExprs = inserts.indices.map(i =>
              coalesce(sum(when(col("__ic") === i, 1L).otherwise(0L)),
                lit(0L)).as(s"c$i"))
            val routed = srcA.join(touchedRows.select(col(key).as("__tk")),
                col(s"$sourceAlias.$key") === col("__tk"), "left_anti")
              .withColumn("__ic", route).filter(col("__ic") >= 0)
              .observe(o, cExprs.head, cExprs.tail: _*)
            val image = (f: org.apache.spark.sql.types.StructField) =>
              inserts.zipWithIndex
                .foldRight(lit(null).cast(f.dataType): Column) {
                  case ((cl, i), acc) =>
                    org.apache.spark.sql.functions.when(
                      col("__ic") === i, clauseImage(cl, f)).otherwise(acc)
                }.as(f.name)
            (routed.select(outSchema.fields.toSeq.map(image): _*), Some(o))
          }
        // only the NEW images face the CHECK gate (kept rows passed at
        // their own write time) — churn-sized, like everything here:
        // NOT-MATCHED-BY-SOURCE updates contribute exactly their
        // updated images, never the whole kept side
        requireSatisfied(
          gateNmbs.foldLeft(gateMatched.unionByName(inserted))(
            _ unionByName _),
          m.constraints, "merge clauses")
        // the observed metrics are available once ANY action ran the
        // plan — the staging write at the latest
        receipt = () => {
          val (mUpd, mDel, nmbsUpd, nmbsDel) = counts()
          val perClause = obsI.map(o => inserts.indices
            .map(i => o.get(s"c$i").asInstanceOf[Long]))
            .getOrElse(Seq.empty[Long])
          (mUpd + nmbsUpd, mDel + nmbsDel, perClause.sum, perClause)
        }
        matchedKept.unionByName(inserted)
      },
      // the EVOLVED schema rides the log — untouched files carried by
      // reference surface the new columns as NULL (by-name parquet
      // resolution), exactly append's ADD-only evolution
      Some(loggedDdl(outSchema)),
      // a NOT-MATCHED-BY-SOURCE statement read the WHOLE table: any
      // interleaved added file holds rows it never evaluated, so a
      // re-base is never sound — always re-stage
      targets.fold((_: DataFrame) => true)(t => addedKeyOverlap(t._1, key)),
      release = () => staged.foreach(_.unpersist())))
    }
    val (nUpd, nDel, nIns, insPer) = receipt()
    MergeClausesResult(r.version, r.filesRewritten, r.filesTotal, nUpd, nDel,
      nIns, insPer)
  }

  /** COPY-ON-WRITE range DELETE (`DELETE WHERE lo <= c <= hi` — the
    * GDPR/retention-purge shape): files whose [min,max] cannot
    * intersect the range are carried by reference; candidates are
    * rewritten with the range filtered OUT. Rows with NULL `c` are
    * KEPT (SQL DELETE's predicate must be TRUE to delete). The old
    * version still contains the deleted rows until [[vacuum]]
    * reclaims it — retention policy is explicit, exactly as in
    * Delta.
    */
  def deleteRange(spark: SparkSession, root: String, c: String,
                  lo: Option[Column], hi: Option[Column],
                  statsCols: Seq[String]): CowResult = {
    require(statsCols.contains(c),
      s"delete column $c must be a stats column for file targeting")
    require(lo.nonEmpty || hi.nonEmpty, "need at least one bound")
    val hit = StatsIndex.hitExpr(c, lo, hi)
    val del = Seq(lo.map(l => col(c) >= l), hi.map(h => col(c) <= h))
      .flatten.reduce(_ && _)
    commitDelta(spark, root, "deleteRange", statsCols) { base =>
      require(base.m.colmap.isIdentity, s"$root carries a column mapping — " +
        "materializeMapping before deleteRange")
      // the filter folds over the localized stats (no job)
      val touched = base.stats.filter(hit)
        .select("file").collect().map(_.getString(0)).sorted.toSeq
      Right(CowPlan(touched.map(f => relOf(spark, root, f)),
        _.filter(!coalesce(del, lit(false))),
        Some(loggedDdl(schemaOf(spark, root, base.m))),
        // an interleaved added file may not intersect the deleted range
        // (its rows would have faced this delete), conservative on null
        // stats via the same hitExpr as the targeting itself
        added => added.filter(hit).limit(1).count() > 0))
    }
  }

  /** PARTITION-SCOPED OVERWRITE — the "reload today's partition"
    * operation (Hive/Spark's static `INSERT OVERWRITE ... PARTITION`,
    * Delta's partition-scoped replaceWhere): replace exactly the rows
    * of one partition value-tuple with `df`, as ONE atomic commit.
    * The file split is decided from PATH VALUES alone:
    *
    *  - files whose `__p_k=v` segments prove they hold a DIFFERENT
    *    partition carry into the new version BY REFERENCE — never
    *    opened;
    *  - files provably OF the replaced partition are DROPPED — never
    *    opened either (their rows are exactly what the overwrite
    *    replaces);
    *  - files whose partition value is UNKNOWN (a pre-partitioning
    *    layout, the ambiguous null/'' default marker) are rewritten
    *    with the partition's rows filtered OUT — the conservative
    *    remainder, usually empty on a cleanly partitioned table.
    *
    * So on a cleanly partitioned 100 TB table the reload costs the
    * NEW data's write plus one manifest — `filesRewritten` is 0 and
    * no pre-existing byte is read. Every row of `df` must belong to
    * the replaced partition (validated in one batch pass — writing
    * partition g1's reload into g2 must refuse, as replaceWhere
    * does); the batch faces the table's CHECK constraints; a prior
    * deletion vector carries for carried files and drops with
    * dropped/rewritten ones (their positions die with the rewrite),
    * exactly the [[deleteRange]] interplay. Publishes at
    * readVersion+1 with the usual conflict check. Requires the
    * version's stats index ([[commitWithStats]]) for exact carried
    * row accounting — the same contract as [[merge]]/[[deleteRange]].
    */
  def replacePartition(spark: SparkSession, df: DataFrame, root: String,
                       spec: Map[String, Column],
                       statsCols: Seq[String]): CowResult = {
    require(spec.nonEmpty, "replacePartition needs at least one partition value")
    val preCached = df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val batch = if (preCached) df
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pred = spec.map { case (c, value) => col(c) <=> value }.reduce(_ && _)
      val stray = batch.filter(!coalesce(pred, lit(false))).count()
      require(stray == 0L,
        s"replacePartition: $stray batch rows fall OUTSIDE the replaced " +
          s"partition ${spec.keys.mkString(",")} — refusing (replaceWhere contract)")
      // spec values rendered exactly as the writer encoded them in
      // the path (the same session Cast-to-string) — one 1-row local
      // eval, no constraint on how the caller built the Column
      val specCols = spec.toSeq
      val renderedRow = spark.range(1).select(specCols.map { case (c, value) =>
        value.cast(org.apache.spark.sql.types.StringType).as(c) }: _*).head()
      val tuple: Map[String, Option[String]] = specCols.zipWithIndex.map {
        case ((c, _), idx) => c -> Option(renderedRow.getString(idx))
      }.toMap
      replaceTuplesBody(spark, batch, root, specCols.map(_._1), Seq(tuple),
        rows => rows.filter(!coalesce(pred, lit(false))), statsCols,
        "replacePartition")
    } finally if (!preCached) batch.unpersist()
  }

  /** DYNAMIC partition overwrite — Spark's
    * `partitionOverwriteMode=dynamic` / Hive's dynamic `INSERT
    * OVERWRITE ... PARTITION (k)`: replace exactly the partition
    * tuples PRESENT IN `df` (over `specCols`), all in ONE atomic
    * commit. The replaced set derives from the DATA — one distinct
    * aggregate over the batch's partition columns, capped by
    * `maxPartitions` (Hive's dynamic-partition guard: a reload that
    * silently touches a million partitions is a bug, not a load) —
    * then each version file classifies by PATH VALUES against the
    * whole set exactly as [[replacePartition]] does: files provably
    * of another partition carry by reference, files provably of a
    * replaced tuple drop, unknown-layout files rewrite with the
    * replaced tuples' rows anti-joined OUT (row membership is by
    * VALUE — null-safe — while file classification is by the
    * rendered path string; the ambiguous null/'' marker stays
    * conservative on both sides). An EMPTY batch replaces nothing and
    * commits nothing (Spark's dynamic-mode contract — the no-op
    * receipt reports the current version). Everything else —
    * constraints, vector carry, stats accounting, the partition-aware
    * OCC re-base for disjoint concurrent reloads — is the shared
    * [[replaceTuplesBody]].
    */
  def replacePartitions(spark: SparkSession, df: DataFrame, root: String,
                        specCols: Seq[String], statsCols: Seq[String],
                        maxPartitions: Int = 1000): CowResult = {
    require(specCols.nonEmpty,
      "replacePartitions needs at least one partition column")
    specCols.foreach(c => require(df.columns.contains(c),
      s"replacePartitions: batch carries no column $c"))
    val preCached = df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val batch = if (preCached) df
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the statement's one driver-side collect: distinct partition
      // tuples, typed (row membership is by value) alongside their
      // session-Cast rendering (file classification matches what the
      // path writer encoded) — partition-count-sized metadata
      val tupleRows = batch.select(specCols.map(col) ++ specCols.map(c =>
          col(c).cast(org.apache.spark.sql.types.StringType)
            .as(s"__s_$c")): _*)
        .distinct().collect().toSeq
      require(tupleRows.length <= maxPartitions,
        s"replacePartitions derives ${tupleRows.length} partitions from " +
          s"the batch — above the $maxPartitions cap; raise maxPartitions " +
          "if this reload really is that wide")
      if (tupleRows.isEmpty) {
        val v = latestVersion(spark, root).getOrElse(
          throw new IllegalArgumentException(
            s"$root has no committed versions"))
        val m = versionMeta(spark, root, v)
        requireLive(m, root, "replacePartitions")
        return CowResult(v, 0, relFilesOf(spark, root, m).size, 0)
      }
      val tuples = tupleRows.map(r => specCols.zipWithIndex.map {
        case (c, i) => c -> Option(r.getString(specCols.length + i))
      }.toMap)
      // typed tuple frame for the remainder's null-safe anti-join —
      // broadcast-sized by the cap, never a giant OR expression
      val tupleSchema = org.apache.spark.sql.types.StructType(
        specCols.map(c => batch.schema(batch.schema.fieldIndex(c))
          .copy(name = s"__t_$c")))
      val tupleDf = spark.createDataFrame(
        java.util.Arrays.asList(tupleRows.map(r => org.apache.spark.sql.Row(
          specCols.indices.map(r.get): _*)): _*), tupleSchema)
      val cond = specCols.map(c => col(c) <=> col(s"__t_$c"))
        .reduce(_ && _)
      replaceTuplesBody(spark, batch, root, specCols, tuples,
        rows => rows.join(
            org.apache.spark.sql.functions.broadcast(tupleDf), cond,
            "left_anti")
          .select(rows.columns.toSeq.map(col): _*),
        statsCols, "replacePartitions")
    } finally if (!preCached) batch.unpersist()
  }

  /** Partition path value of `rel` for column `c` — None when the
    * path proves nothing (no `k=v` segment, or the ambiguous null/''
    * default marker).
    */
  private def pathValOf(rel: String, c: String): Option[String] =
    rel.split('/').iterator.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0 || seg.take(i) != partKey(c)) Iterator.empty
      else {
        val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(i + 1))
        // the default marker is ambiguous (null or '') — unknown
        if (raw == "__HIVE_DEFAULT_PARTITION__") Iterator.empty
        else Iterator.single(raw)
      }
    }.nextOption()

  /** Classify a version's file list against a REPLACED-TUPLE set from
    * path segments alone: carried = proven different from EVERY tuple
    * (some spec column's path value is known and differs); dropped =
    * proven of SOME tuple (every spec column known and equal);
    * anything else rewrites conservatively. A null/'' tuple value
    * never path-matches (the marker is unknown), so null-partition
    * reloads rewrite the marker files — sound.
    */
  private def classifyByTuples(rels: Seq[String], specCols: Seq[String],
                               tuples: Seq[Map[String, Option[String]]])
      : (Seq[String], Seq[String], Seq[String]) = {
    def provenDiff(rel: String, t: Map[String, Option[String]]): Boolean =
      specCols.exists(c => (pathValOf(rel, c), t(c)) match {
        case (Some(fv), Some(sv)) => fv != sv
        case _ => false
      })
    def provenIn(rel: String, t: Map[String, Option[String]]): Boolean =
      specCols.forall(c => (pathValOf(rel, c), t(c)) match {
        case (Some(fv), Some(sv)) => fv == sv
        case _ => false
      })
    val (carried, rest) =
      rels.partition(rel => tuples.forall(t => provenDiff(rel, t)))
    val (dropped, touched) =
      rest.partition(rel => tuples.exists(t => provenIn(rel, t)))
    (carried, dropped, touched)
  }

  /** Does the partition value-tuple hold any LIVE row? (The `INSERT
    * OVERWRITE ... IF NOT EXISTS` probe.) Path-first: a file path-
    * proven OF the tuple short-circuits to true when no deletion
    * vector could have emptied it; otherwise only the tuple's own
    * proven files plus the unknown-layout files scan with the value
    * predicate, limit 1 — never the other partitions.
    */
  def partitionNonEmpty(spark: SparkSession, root: String,
                        spec: Map[String, Column]): Boolean = {
    require(spec.nonEmpty, "partitionNonEmpty needs at least one partition value")
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"$root has no committed versions"))
    val m = versionMeta(spark, root, v)
    requireLive(m, root, "partitionNonEmpty")
    spec.keys.foreach(c => require(m.parts.contains(c),
      s"partitionNonEmpty: $c is not a partition column of $root (${m.parts})"))
    val specCols = spec.toSeq
    val renderedRow = spark.range(1).select(specCols.map { case (c, value) =>
      value.cast(org.apache.spark.sql.types.StringType).as(c) }: _*).head()
    val tuple: Map[String, Option[String]] = specCols.zipWithIndex.map {
      case ((c, _), idx) => c -> Option(renderedRow.getString(idx))
    }.toMap
    val rels = relFilesOf(spark, root, m)
    val (_, droppedRel, touchedRel) =
      classifyByTuples(rels, specCols.map(_._1), Seq(tuple))
    if (m.dv.isEmpty && droppedRel.nonEmpty) return true
    val candidates = droppedRel ++ touchedRel
    if (candidates.isEmpty) return false
    val pred = spec.map { case (c, value) => col(c) <=> value }.reduce(_ && _)
    logical(spark, root, m, physical(spark, root, schemaOf(spark, root, m), candidates))
      .filter(coalesce(pred, lit(false))).limit(1).count() > 0L
  }

  /** Shared body of [[replacePartition]] (one static tuple) and
    * [[replacePartitions]] (the dynamic tuple set): validate against
    * the live meta, classify the version's files by path, and stage
    * the batch plus the conservative remainder through
    * [[commitDelta]]. `keepRemainder` filters a rewritten file's rows
    * down to those OUTSIDE every replaced tuple — the two entries
    * express membership differently (a spec-Column predicate vs a
    * null-safe anti-join on the derived tuple frame).
    *
    * PARTITION-AWARE OCC: two reloads of DISJOINT partitions — the
    * commonest concurrent shape (yesterday's and today's daily reloads
    * racing) — both commit with ONE staged write each. The loser
    * re-bases when every file the interleaver added is path-proven to
    * be of another partition: its fresh dir is then still exactly the
    * replaced partitions' new content, and only the manifest rebuilds.
    * A concurrent write INTO a replaced partition, or a file of unknown
    * layout, re-stages (Delta's conflict checker admits exactly the
    * same disjoint-file commits).
    */
  private def replaceTuplesBody(spark: SparkSession, df: DataFrame,
                                root: String, specCols: Seq[String],
                                tuples: Seq[Map[String, Option[String]]],
                                keepRemainder: DataFrame => DataFrame,
                                statsCols: Seq[String],
                                op: String): CowResult =
    commitDelta(spark, root, op, statsCols) { base =>
      val m = base.m
      specCols.foreach(c => require(m.parts.contains(c),
        s"$op: $c is not a partition column of $root (${m.parts})"))
      val schema = schemaOf(spark, root, m)
      require(df.columns.toSet == schema.fieldNames.toSet,
        s"$op batch schema ${df.columns.toSet} != table ${schema.fieldNames.toSet}")
      require(m.colmap.isIdentity, s"$root carries a column mapping — " +
        s"materializeMapping before $op")
      val batch = df.select(schema.fieldNames.toSeq.map(col): _*)
      requireSatisfied(batch, m.constraints, s"$op batch")
      // classify every file from its path segments: carried files are
      // never opened, dropped ones never read either
      val (_, droppedRel, touchedRel) =
        classifyByTuples(base.rels, specCols, tuples)
      Right(CowPlan(touchedRel,
        // conservative remainder: unknown-layout files rewritten with
        // the replaced tuples' rows filtered OUT; a cleanly partitioned
        // table has none (and the anti-join would still plan its
        // broadcast)
        rows => if (touchedRel.isEmpty) batch
          else keepRemainder(rows).unionByName(batch),
        Some(loggedDdl(schema)),
        added => {
          val addedRel = added.select("file").collect()
            .map(r => relOf(spark, root, r.getString(0))).toSeq
          val (_, d, t) = classifyByTuples(addedRel, specCols, tuples)
          d.nonEmpty || t.nonEmpty
        },
        dropped = droppedRel))
    }

  /** Test-observable OCC counters across the conflict handling of
    * the re-basing writers ([[commitDelta]]'s and [[updateWhere]],
    * counted by [[occPublish]]): `rebases` counts lost races published
    * by a manifest re-base, `restages` those that discarded the staged
    * write and re-planned.
    */
  private[graft] val rebases = new java.util.concurrent.atomic.AtomicLong
  private[graft] val restages = new java.util.concurrent.atomic.AtomicLong

  /** GENERALIZED OCC RE-BASE for the manifest-delta writers
    * ([[commitDelta]]'s and [[updateWhere]]): a loser of the
    * readVersion+1 publish race whose delta is provably DISJOINT from
    * the interleaved commits re-bases its manifest onto the new latest
    * `m2` — one tiny manifest rewrite — instead of deleting its staged
    * data and re-running the whole body. The commonest real collision
    * (a nightly OPTIMIZE racing a streaming append) then costs both
    * writers one staged write each, exactly Delta's conflict-checker
    * outcome for file-disjoint commits.
    *
    * A re-base is sound iff ALL of:
    *  - the new latest is live and METADATA-COMPATIBLE: schema,
    *    partition and bucket layouts, column mapping, constraints, and
    *    the deletion vector reference are unchanged (a changed vector
    *    could hide deletes on files we carry; an interleaved writer
    *    that touched the vector always changes its reference);
    *  - every file OUR delta `owns` of the read version `readRels` —
    *    the files it replaces, or ([[updateWhere]]) the files its new
    *    vector addresses — is still present in the new latest (the
    *    interleaver did not rewrite what we depend on);
    *  - the files the interleaver ADDED provably cannot interact with
    *    our delta — `addedConflicts` inspects them as a frame with a
    *    `file` column plus, for an indexed writer, their stats rows
    *    (for a keyed merge: no added file's key range covers any of
    *    our source keys, the same min/max logic as file targeting, so
    *    a concurrent insert of OUR key re-stages instead of silently
    *    duplicating; for a partition overwrite: every added file is
    *    path-proven of another partition; for an update: no added row
    *    matches its predicate; for a layout-only optimize: never);
    *  - when the writer maintains a skipping index (`physStatsCols`
    *    set), the new latest HAS one, covering its files with the same
    *    columns (its carried rows transplant verbatim; anything else
    *    re-stages and self-heals as today). Only a compaction, whose
    *    rewrite never conflicts, runs without one.
    *
    * Returns the new latest's files outside the owned set and their
    * stats rows; the caller publishes them beside its own files, with
    * row count `m2.nRows + its own rows delta` (the deltas compose
    * because the file sets are disjoint), and its ALREADY-WRITTEN
    * vector (still exact: the vector reference is unchanged and the
    * interleaver's fresh files carry no entries). None → fall back to
    * the always-correct full re-stage. The index checks run on the
    * driver over the collected rows — no Spark job beyond
    * `addedConflicts`' own.
    */
  private def rebaseDelta(spark: SparkSession, root: String,
                          m: VMeta, readRels: Seq[String],
                          owned: Set[String], m2: VMeta,
                          physStatsCols: Option[Seq[String]],
                          addedConflicts: DataFrame => Boolean)
      : Option[(Seq[String],
                Option[(org.apache.spark.sql.types.StructType,
                        Array[org.apache.spark.sql.Row])])] = {
    val compatible = !m2.tombstone && m2.parts == m.parts &&
      m2.bucket == m.bucket && m2.colmap == m.colmap &&
      m2.constraints == m.constraints && m2.schemaDdl == m.schemaDdl &&
      m2.dv == m.dv
    if (!compatible) return None
    val rels2 = relFilesOf(spark, root, m2)
    if (!owned.forall(rels2.toSet)) return None
    val others2 = rels2.filterNot(owned).sorted
    val readSet = readRels.toSet
    val otherStats = physStatsCols match {
      case None =>
        val added = rels2.filterNot(readSet).map(rel => new Path(root, rel).toString)
        if (addedConflicts(spark.createDataset(added)(
            org.apache.spark.sql.Encoders.STRING).toDF("file"))) return None
        None
      case Some(cols) => persistedStats(spark, root, m2.layoutId) match {
        case Some((schema, rows)) if schema.fieldNames.toSet == statsColumns(cols) =>
          val fIdx = schema.fieldIndex("file")
          val byRel = rows.map(r => (relOf(spark, root, r.getString(fIdx)), r))
          if (byRel.iterator.map(_._1).toSet.size != rels2.size) return None
          // null-stats added files stay conservative (the predicate
          // sees them and must conflict)
          val added = byRel.collect { case (rel, r) if !readSet(rel) => r }
          if (addedConflicts(localStats(spark, schema, added.toIndexedSeq)))
            return None
          val keep = others2.toSet
          Some((schema, byRel.collect { case (rel, r) if keep(rel) => r }))
        case _ => return None
      }
    }
    Some((others2, otherStats))
  }

  /** [[rebaseDelta]] conflict predicate for a KEYED merge: an added
    * file conflicts when its [min,max] range on the merge key could
    * contain any source key (or its stats are unbounded — null
    * min/max means "could be anything", including an all-null-key
    * file, which is harmless but indistinguishable; conservative).
    */
  private def addedKeyOverlap(keys: DataFrame, key: String)
      (added: DataFrame): Boolean =
    added.join(org.apache.spark.sql.functions.broadcast(keys),
        col(s"min_$key").isNull || col(s"max_$key").isNull ||
          (col("__mk") >= col(s"min_$key") && col("__mk") <= col(s"max_$key")),
        "left_semi")
      .limit(1).count() > 0

  // --- per-version data skipping (Snapshots × StatsIndex) ---

  /** Stats table location for a version's file LAYOUT — keyed by the
    * layout id (data-dir nonce or manifest nonce), not the version
    * number: a [[rollback]] re-points a new version at an old layout
    * whose stats already exist, so the metadata-only undo keeps its
    * skipping index with zero work.
    */
  private def statsPath(root: String, layoutId: String): Path =
    new Path(new Path(root, "_stats"), layoutId)

  /** Process-level stats-snapshot memo: (rootAbs, layoutId) →
    * (schema, collected rows). A layout's stats dir is written ONCE
    * (writeAtomic swap under a layout-unique nonce) and never mutated,
    * so cached rows cannot go stale; this converts the per-statement
    * "re-read + re-collect the index this process just wrote" —
    * a schema-inference job plus a collect job on every copy-on-write
    * statement — into a driver map lookup. Bounded by entry count AND
    * total cached rows so a million-file table cannot pin unbounded
    * driver memory (the rows are the same file-count-sized metadata
    * every statement materializes transiently anyway). In-process
    * only: every run still derives the index from the parquet inputs.
    *
    * SINGLE-WRITER-PROCESS assumption: the memo trusts that nothing
    * outside this process deletes or rewrites a `_stats/<layout>` dir
    * while the layout is live. An externally deleted dir stays
    * invisible to this process — [[readPruned]], [[statsTableOf]] and
    * the copy-on-write writers keep serving the memoized rows instead
    * of refusing or self-healing — until the entry is evicted or
    * [[clearStatsCache]] runs. Another process's writers are safe: they
    * publish new layouts under new ids and never touch existing dirs.
    * This process's own [[vacuum]] evicts the entry of every layout
    * whose `_stats/<layout>` dir it deletes, in the same step.
    */
  private val statsCache = new java.util.LinkedHashMap[
    (String, String),
    (org.apache.spark.sql.types.StructType,
     Array[org.apache.spark.sql.Row], Long)](16, 0.75f, true)
  private val StatsCacheMaxEntries = 64
  private val StatsCacheMaxBytes = 256L * 1024 * 1024
  /** Approximate retained bytes of a stats row — strings/binaries
    * dominate (wide min/max values on URL/UUID-ish columns), so the
    * bound is BYTES-aware, not a row count a pathological row width
    * could blow past.
    */
  private def approxRowBytes(r: org.apache.spark.sql.Row): Long = {
    var i = 0; var b = 16L
    while (i < r.length) {
      r.get(i) match {
        case s: String => b += 40L + 2L * s.length
        case a: Array[Byte] => b += 24L + a.length
        case null => b += 8L
        case _ => b += 24L
      }
      i += 1
    }
    b
  }
  private def statsCacheGet(root: String, layoutId: String)
      : Option[(org.apache.spark.sql.types.StructType,
                Array[org.apache.spark.sql.Row])] =
    statsCache.synchronized {
      Option(statsCache.get((root, layoutId))).map(v => (v._1, v._2))
    }
  private def statsCachePut(root: String, layoutId: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Array[org.apache.spark.sql.Row]): Unit = {
    val bytes = rows.iterator.map(approxRowBytes).sum
    // an entry too large to ever cache would just evict everything
    if (bytes > StatsCacheMaxBytes / 2) return
    statsCache.synchronized {
      statsCache.put((root, layoutId), (schema, rows, bytes))
      var total = 0L
      val it = statsCache.values.iterator()
      while (it.hasNext) total += it.next()._3
      val evict = statsCache.entrySet().iterator()
      while ((statsCache.size > StatsCacheMaxEntries ||
          total > StatsCacheMaxBytes) && evict.hasNext) {
        total -= evict.next().getValue._3
        evict.remove()
      }
    }
  }
  private[graft] def clearStatsCache(): Unit =
    statsCache.synchronized { statsCache.clear() }
  /** Whether the memo holds `layoutId`'s index of `root` (a probe). */
  private[graft] def statsCached(spark: SparkSession, root: String,
                                 layoutId: String): Boolean =
    statsCacheGet(rootPathOf(spark, root), layoutId).isDefined

  /** Persist a stats snapshot from its collected rows and remember it:
    * ONE single-task local-relation write (the previous distributed
    * write paid a schema-inference job plus AQE stage jobs for the pad
    * anti-join per statement), and later statements' [[statsRowsOf]]
    * serve from the memo with zero jobs and zero reads.
    */
  private def writeStatsRows(spark: SparkSession, root: String,
      layoutId: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Array[org.apache.spark.sql.Row]): Unit = {
    Load.writeAtomic(spark,
      localStats(spark, schema, rows.toIndexedSeq).coalesce(1),
      statsPath(root, layoutId).toString)
    statsCachePut(rootPathOf(spark, root), layoutId, schema, rows)
  }

  /** Driver-side twin of the previous `unionByName` over two stats
    * snapshots: columns matched by name in `a`'s order, and a type
    * mismatch reconciles through [[isLosslessWidening]] — exactly the
    * drift the tier admits (a type-widening merge leaves the carried
    * rows' min/max at the narrow type while the fresh build is wide).
    * Values cast driver-side so the LocalRelation rows match the
    * declared schema.
    */
  private def unionStatsRows(
      aSchema: org.apache.spark.sql.types.StructType,
      aRows: Array[org.apache.spark.sql.Row],
      bSchema: org.apache.spark.sql.types.StructType,
      bRows: Array[org.apache.spark.sql.Row])
      : (org.apache.spark.sql.types.StructType,
         Array[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.types._
    require(aSchema.fieldNames.toSet == bSchema.fieldNames.toSet,
      s"stats union: columns ${aSchema.fieldNames.mkString(",")} != " +
        bSchema.fieldNames.mkString(","))
    val fields = aSchema.fields.map { af =>
      val bf = bSchema(af.name)
      val t =
        if (af.dataType == bf.dataType) af.dataType
        else if (isLosslessWidening(af.dataType, bf.dataType)) bf.dataType
        else if (isLosslessWidening(bf.dataType, af.dataType)) af.dataType
        else throw new IllegalStateException(
          s"stats union: column ${af.name} is ${af.dataType.simpleString} " +
            s"vs ${bf.dataType.simpleString} — no lossless widening")
      StructField(af.name, t, nullable = true)
    }
    val target = StructType(fields)
    def cast(v: Any, to: DataType): Any =
      if (v == null) null else to match {
        case LongType => v match {
          case i: java.lang.Integer => i.longValue()
          case s: java.lang.Short => s.longValue()
          case b: java.lang.Byte => b.longValue()
          case x => x
        }
        case IntegerType => v match {
          case s: java.lang.Short => s.intValue()
          case b: java.lang.Byte => b.intValue()
          case x => x
        }
        case ShortType => v match {
          case b: java.lang.Byte => b.shortValue()
          case x => x
        }
        case DoubleType => v match {
          case f: java.lang.Float => f.doubleValue()
          case i: java.lang.Integer => i.doubleValue()
          case l: java.lang.Long => l.doubleValue()
          case s: java.lang.Short => s.doubleValue()
          case b: java.lang.Byte => b.doubleValue()
          case x => x
        }
        // the target scale never drops below a side's (the union only
        // takes lossless widenings), so rescaling must stay exact —
        // UNNECESSARY throws instead of silently rounding a min/max
        case dt: DecimalType => v match {
          case bd: java.math.BigDecimal =>
            bd.setScale(dt.scale, java.math.RoundingMode.UNNECESSARY)
          case bd: scala.math.BigDecimal =>
            bd.bigDecimal.setScale(dt.scale, java.math.RoundingMode.UNNECESSARY)
          case x => x
        }
        case _ => v
      }
    def conv(rows: Array[org.apache.spark.sql.Row],
             s: StructType): Array[org.apache.spark.sql.Row] =
      if (s.fields.map(f => (f.name, f.dataType))
          .sameElements(target.fields.map(f => (f.name, f.dataType)))) rows
      else {
        val idx = target.fields.map(f => (s.fieldIndex(f.name), f.dataType))
        rows.map(r => org.apache.spark.sql.Row.fromSeq(
          idx.toIndexedSeq.map { case (i, t) => cast(r.get(i), t) }))
      }
    (target, conv(aRows, aSchema) ++ conv(bRows, bSchema))
  }

  /** [[commit]] + build and persist the per-file min/max stats index
    * for the new version's data dir ([[StatsIndex]]) — the commit
    * hook that makes TIME-TRAVEL reads data-skipping-capable: old
    * versions stay readable AND prunable. Snapshot data dirs are
    * immutable once published, so the hook is one
    * [[StatsIndex.build]] pass over exactly the files this commit
    * wrote (never the table's history); [[StatsIndex.updateFor]]
    * remains the maintenance hook for IN-PLACE append tables, which
    * snapshots by construction are not.
    */
  def commitWithStats(spark: SparkSession, df: DataFrame, root: String,
                      cols: Seq[String],
                      partitionBy: Seq[String] = Nil,
                      bucketBy: Option[Bucketing] = None): Long = {
    val v = commit(spark, df, root, partitionBy, bucketBy)
    ensureStats(spark, root, versionMeta(spark, root, v), cols)
    v
  }

  /** Build + persist the skipping index for a version's layout unless
    * it already exists (a re-used layout — rollback target — keeps
    * its stats with zero work).
    */
  private def ensureStats(spark: SparkSession, root: String,
                          m: VMeta, cols: Seq[String]): Unit = {
    val sp = statsPath(root, m.layoutId)
    if (!fs(spark, sp).exists(sp)) {
      // PHYSICAL rows under the logged schema: `n_rows` counts what each
      // file holds, and files a widening left narrower read up
      val (schema, rows) = StatsIndex.buildRows(
        physical(spark, root, schemaOf(spark, root, m), relFilesOf(spark, root, m)),
        cols)
      writeStatsRows(spark, root, m.layoutId, schema, rows)
    }
  }

  /** The layout's persisted index as (schema, rows): from the memo,
    * else read once (opened by [[Load.openTable]], no schema job) and
    * memoized; None when the layout has none.
    */
  private def persistedStats(spark: SparkSession, root: String,
                             layoutId: String)
      : Option[(org.apache.spark.sql.types.StructType,
                Array[org.apache.spark.sql.Row])] =
    statsCacheGet(rootPathOf(spark, root), layoutId).orElse {
      val sp = statsPath(root, layoutId)
      if (!fs(spark, sp).exists(sp)) None
      else {
        val df = Load.openTable(spark, sp.toString)
        val out = (df.schema, df.collect())
        statsCachePut(rootPathOf(spark, root), layoutId, out._1, out._2)
        Some(out)
      }
    }

  /** The version's stats table — read if persisted, else derived on
    * the spot (self-heal for a crash between a publish and its stats
    * write; the derived table is also persisted so the heal pays
    * once).
    *
    * Collected (r16): the table is file-count-sized METADATA — the
    * same cardinality the copy-on-write writers already collect as
    * file lists, the driver-side FileIndex contract — and every
    * consumer runs several passes over it (coverage check, targeting
    * broadcast, carried complement, carried-stats rewrite). Served as
    * a LocalRelation ([[localStats]]), projections/filters
    * constant-fold (ConvertToLocalRelation), `collect()` is a direct
    * row handoff with NO job, and a broadcast builds from the local
    * rows without a child job; against the parquet-backed frame each
    * pass was its own Spark job plus a broadcast-exchange job.
    */
  private def statsRowsOf(spark: SparkSession, root: String, m: VMeta,
                          cols: Seq[String])
      : (org.apache.spark.sql.types.StructType,
         Array[org.apache.spark.sql.Row]) =
    persistedStats(spark, root, m.layoutId).getOrElse {
      // the self-heal build memoizes what it writes
      ensureStats(spark, root, m, cols)
      persistedStats(spark, root, m.layoutId).get
    }

  /** Local-relation frame over already-collected stats rows. */
  private def localStats(spark: SparkSession,
                         schema: org.apache.spark.sql.types.StructType,
                         rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Delta-OPTIMIZE for the snapshot tier — SELECTIVE: compact the
    * SMALL-FILE TAIL, not the table. The version's file list splits
    * by size from listing metadata ([[fileStatusesOf]] — one listing
    * RPC per parent dir, never a per-file round trip): files below
    * `targetBytes`, plus every file the version's deletion vector
    * names (so OPTIMIZE still materializes merge-on-read deletes
    * away — Delta's REORG ... APPLY (PURGE)), are rewritten into
    * ⌈debtBytes/targetBytes⌉ files; every FULL-SIZE clean file is
    * carried into the new version BY REFERENCE through the manifest
    * — never read, never copied. A daily OPTIMIZE on a 100 TB table
    * therefore costs O(yesterday's small-file debt), not a 100 TB
    * rewrite, which is the only affordable maintenance shape at
    * target scale. When nothing needs work (no debt, no vector), the
    * call publishes NOTHING and returns the current version with
    * `filesRewritten = 0`.
    *
    * `clusterBy` switches to OPTIMIZE ... ZORDER-lite semantics: a
    * FULL re-cluster of the version (re-clustering is global by
    * definition — micro-batch accretion scrambled every file's
    * range, so tight disjoint ranges require rewriting them all;
    * same cost model as Delta's ZORDER). With `statsCols` set the
    * new version's skipping index reuses the carried files' stats
    * rows VERBATIM and rebuilds only the fresh dir ([[merge]]'s
    * incremental maintenance).
    *
    * Data identical, history intact (the small-file version stays
    * readable until [[vacuum]] reclaims it), and multi-writer safe
    * with a real conflict check: the compacted layout is a function
    * of the version it READ, so it publishes at EXACTLY
    * readVersion+1 — a concurrent commit landing after the read
    * makes the publish lose, the stale rewrite is discarded (own
    * orphans deleted eagerly), and the NEW latest re-compacts.
    */
  def optimize(spark: SparkSession, root: String,
               targetBytes: Long = 128L * 1024 * 1024,
               statsCols: Seq[String] = Nil,
               clusterBy: Seq[String] = Nil,
               clusterDebtOnly: Boolean = false): CowResult = {
    require(!clusterDebtOnly || clusterBy.nonEmpty,
      "clusterDebtOnly needs clusterBy columns")
    require(!clusterDebtOnly || statsCols.contains(clusterBy.head),
      s"clusterDebtOnly targets files through per-file stats on " +
        s"'${clusterBy.headOption.getOrElse("")}' — include it in statsCols")
    commitDelta(spark, root, "optimize", statsCols) { base =>
      val m = base.m
      val statuses = fileStatusesOf(spark, root, base.rels)
      // dv-carrying files must rewrite regardless of size — their
      // logical read drops the vector's rows, materializing it away
      val dvFiles: Set[String] =
        if (m.dv.isEmpty) Set.empty
        else dvOf(spark, root, m).select("file").distinct()
          .collect().map(_.getString(0)).toSet
      val withRel = statuses.map(st => (relOf(spark, root, st.getPath.toString), st))
      // debt-only re-clustering needs HYSTERESIS to converge: its
      // output files size at debtBytes/⌈debtBytes/target⌉ — just
      // UNDER the target — so a full-target debt threshold would
      // re-classify them as debt forever. Half the target (Delta's
      // minFileSize shape) makes one pass terminal: outputs ≥
      // target/2 are clean. Plain selective compaction keeps the
      // full threshold (its convergence is the single-output guard).
      val debtBytes0 = if (clusterDebtOnly) targetBytes / 2 else targetBytes
      val (touched0, carried0) =
        if (clusterBy.nonEmpty && !clusterDebtOnly)
          (withRel, Seq.empty[(String, org.apache.hadoop.fs.FileStatus)])
        else withRel.partition { case (rel, st) =>
          st.getLen < debtBytes0 || dvFiles.contains(rel)
        }
      // INCREMENTAL RE-CLUSTER ("z-order the debt" — Delta's
      // incremental-ZORDER shape): rewrite the debt files PLUS the
      // minimal set of full-size files whose cluster-key range
      // overlaps the debt's ranges, publish everything else by
      // reference. Accreted micro-batches usually land in a narrow
      // key band (today's keys), so the overlap set is a few files
      // out of millions — the debt re-clusters into tight disjoint
      // ranges without paying the full-table ZORDER. Files the stats
      // cannot bound (null min/max) join the rewrite conservatively;
      // pre-existing overlap BETWEEN carried files is preserved, not
      // worsened (only a full re-cluster removes it).
      val touched =
        if (!clusterDebtOnly || touched0.isEmpty) touched0
        else {
          val ckey = clusterBy.head
          val ranges: Map[String, (Any, Any)] = base.stats
            .select(col("file"), col(s"min_$ckey"), col(s"max_$ckey"))
            .collect().map(r => (relOf(spark, root, r.getString(0)),
              (r.get(1), r.get(2)))).toMap
          def cmp(a: Any, b: Any): Int =
            a.asInstanceOf[Comparable[Any]].compareTo(b)
          // merge the debt files' ranges into disjoint spans
          val debtSpans = touched0.flatMap { case (rel, _) =>
            ranges.get(rel) match {
              case Some((mn, mx)) if mn != null && mx != null => Some((mn, mx))
              case _ => None
            }
          }.sortWith((x, y) => cmp(x._1, y._1) < 0)
            .foldLeft(List.empty[(Any, Any)]) {
              case ((smn, smx) :: tail, (mn, mx)) if cmp(mn, smx) <= 0 =>
                (smn, if (cmp(mx, smx) > 0) mx else smx) :: tail
              case (acc, span) => span :: acc
            }
          val debtUnbounded = touched0.exists { case (rel, _) =>
            ranges.get(rel).forall(r => r._1 == null || r._2 == null)
          }
          touched0 ++ carried0.filter { case (rel, _) =>
            debtUnbounded || (ranges.get(rel) match {
              case Some((mn, mx)) if mn != null && mx != null =>
                debtSpans.exists { case (dmn, dmx) =>
                  cmp(mn, dmx) <= 0 && cmp(dmn, mx) <= 0
                }
              case _ => true // unbounded full file: conservative rewrite
            })
          }
        }
      // a single small file with no vector has no debt to merge —
      // rewriting it buys nothing; publish nothing
      if (touched.isEmpty ||
          (touched.size == 1 && dvFiles.isEmpty && clusterBy.isEmpty))
        Left(CowResult(base.v, 0, withRel.size, 0L))
      else {
        // a bucketed table compacts WITHIN the bucket layout: the
        // rewrite re-bins by the bucket function inside writeDataDir
        // (debt rows land back in their buckets), so the file-count
        // lever is the layout's n, not debt/targetBytes — and a range
        // re-cluster would scramble bucket identity, so it refuses
        require(m.bucket.isEmpty || clusterBy.isEmpty,
          s"$root is bucketed (${m.bucket.get}) — clusterBy would break " +
            "bucket identity; redefine the layout with a full commit instead")
        // selective compaction composes with a column mapping (it works
        // in physical names end to end and republishes the map), but
        // clusterBy takes USER column names — ambiguous on a mapped
        // table, so it refuses like the other name-contract writers
        require(clusterBy.isEmpty || m.colmap.isIdentity,
          s"$root carries a column mapping — materializeMapping before " +
            "a clusterBy OPTIMIZE")
        val touchedRel = touched.map(_._1).sorted
        val debtBytes = touched.map(_._2.getLen).sum
        val nFiles = math.max(1, math.ceil(debtBytes.toDouble / targetBytes).toInt)
        Right(CowPlan(touchedRel,
          // every dv file is in the touched set, so the logical rows
          // materialize the vector and the new version carries none
          rows =>
            if (m.bucket.nonEmpty) rows
            else if (clusterBy.isEmpty) rows.repartition(nFiles)
            else rows.repartitionByRange(nFiles, clusterBy.map(col): _*)
              .sortWithinPartitions(clusterBy.map(col): _*),
          m.schemaDdl, // compaction preserves the logged schema
          // layout-only: an interleaved added file never conflicts
          // semantically — it is simply next pass's debt
          _ => false,
          compaction = true))
      }
    }
  }

  /** Time-travel read THROUGH the version's stats index: the file
    * list prunes from metadata alone, then only candidate files
    * open ([[StatsIndex.prunedRead]]'s contract, under the version's
    * logged schema like [[read]]). Returns (frame, files read, files
    * total).
    */
  def readPruned(spark: SparkSession, root: String, version: Option[Long],
                 c: String, lo: Option[Column], hi: Option[Column])
      : (DataFrame, Int, Int) = {
    val v = version.orElse(latestVersion(spark, root)).getOrElse(
      throw new IllegalArgumentException(s"$root has no committed versions"))
    val m = versionMeta(spark, root, v)
    requireLive(m, root, "readPruned")
    // serve the skipping index from the process memo when present
    // (zero jobs, zero reads — see [[statsCache]], including its
    // single-writer-process assumption: a memoized layout whose
    // `_stats` dir was deleted externally still prunes here); the
    // candidate filter below then folds over a LocalRelation, and the
    // total is the row count on the driver (one row per file)
    val (sSchema, sRows) = persistedStats(spark, root, m.layoutId)
      .getOrElse(throw new IllegalArgumentException(
        s"version $v of $root has no stats index — commit via commitWithStats"))
    // the caller names the LOGICAL column; stats rows and file
    // contents carry the physical one. The candidates come from the
    // stats rows (whose `file` URIs are the version's files), open
    // through [[openScan]], and the range re-applies to their rows
    // (the stats decide which files to open, never which rows
    // qualify). Merge-on-read composes with skipping: min/max prune on
    // PHYSICAL file contents, which over-approximate the logical rows
    // (a deletion vector only removes rows), so pruning stays sound
    // and the vector applies on whatever survives it.
    val pc = m.colmap.physicalOf(c)
    val files = StatsIndex.candidateFiles(localStats(spark, sSchema, sRows.toIndexedSeq),
      pc, lo, hi)
    val bounded = Seq(lo.map(l => col(pc) >= l), hi.map(h => col(pc) <= h))
      .flatten.reduceOption(_ && _).getOrElse(lit(true))
    val df = logical(spark, root, m, physical(spark, root, schemaOf(spark, root, m),
      files.map(f => relOf(spark, root, f)))).filter(bounded)
    (logicalProject(df, m.colmap), files.size, sRows.length)
  }

  /** The version's persisted stats table, when one exists (a version
    * committed outside the `*WithStats` paths has none — consumers
    * then degrade to no skipping, never to an error).
    */
  def statsTableOf(spark: SparkSession, root: String,
                   v: Long): Option[DataFrame] = {
    persistedStats(spark, root, versionMeta(spark, root, v).layoutId)
      .map { case (schema, rows) => localStats(spark, schema, rows.toIndexedSeq) }
  }

  /** The version as a PLANNER-INTEGRATED scan: a parquet relation
    * whose file listing is the version's manifest filtered by its
    * stats index against the query's OWN pushed filters
    * ([[graft.plans.SnapshotFileIndex]] — the TahoeFileIndex seam).
    * Unlike [[readPruned]], which prunes only the explicit range
    * predicate it is handed, THIS scan data-skips for any predicate
    * Catalyst pushes — SQL or DataFrame — while the built-in
    * vectorized parquet reader and whole-stage codegen keep the data
    * path. Deletion vectors apply on top exactly as in [[read]];
    * the schema comes from the log ([[schemaOf]]), so evolved tables
    * plan without footer sampling. Returns (frame, index) — the
    * index records the (files kept, files total) of its last
    * planning pass, the prune pin queries and specs assert on.
    */
  def sqlScan(spark: SparkSession, root: String,
              version: Option[Long] = None)
      : (DataFrame, graft.plans.SnapshotFileIndex) = {
    val v = version.orElse(latestVersion(spark, root)).getOrElse(
      throw new IllegalArgumentException(s"$root has no committed versions"))
    val m = versionMeta(spark, root, v)
    requireLive(m, root, "sqlScan")
    // a logged bucket layout surfaces as a real BucketSpec: the scan
    // reports HashPartitioning(cols, n) and co-bucketed joins/aggs
    // plan with no exchange (see [[Bucketing]])
    val (raw, idx) = openScan(spark, root, schemaOf(spark, root, m),
      relFilesOf(spark, root, m), statsTableOf(spark, root, v), m.parts, m.bucket)
    // column mapping: SQL sees the logical names; predicates push
    // through the alias projection to the physical scan, so stats
    // skipping and parquet pushdown keep working on the file names
    (logicalProject(logical(spark, root, m, raw), m.colmap), idx)
  }

  /** FileStatuses for a manifest's files — ONE listing RPC per
    * distinct parent dir, never a getFileStatus round trip per file
    * (at a million-file manifest that is the difference between a
    * listing and a day of metadata calls). A listed file that is gone
    * (deleted outside the log, or a clone's source vacuumed) refuses:
    * a scan must not silently lose its rows.
    */
  private[graft] def fileStatusesOf(spark: SparkSession, root: String,
                             rels: Seq[String])
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val byDir = rels.map(rel => new Path(root, rel)).groupBy(_.getParent)
    byDir.toSeq.sortBy(_._1.toString).flatMap { case (dir, paths) =>
      val want = paths.map(_.getName).toSet
      val found = fs(spark, dir).listStatus(dir).filter(st => want(st.getPath.getName))
      if (found.length != want.size)
        throw new IllegalStateException(s"$root: ${want.size - found.length} " +
          s"listed data file(s) missing under $dir — deleted outside the log?")
      found.sortBy(_.getPath.getName)
    }
  }

  /** `DESCRIBE DETAIL` — the one-row operational summary every table
    * format exposes (Delta's verb): latest version, logical rows,
    * file count and total bytes (listing metadata via
    * [[fileStatusesOf]] — one RPC per parent dir, no data opened),
    * the declared layouts, and the policy counts. The numbers an
    * operator checks before sizing a job against the table.
    */
  def detail(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"$root has no committed versions"))
    val m = versionMeta(spark, root, v)
    requireLive(m, root, "DESCRIBE DETAIL")
    val statuses = fileStatusesOf(spark, root, relFilesOf(spark, root, m))
    Seq((root, v, m.nRows, statuses.size, statuses.map(_.getLen).sum,
        m.parts.mkString(","),
        m.bucket.map(b => s"${b.cols.mkString(",")} INTO ${b.n} BUCKETS")
          .getOrElse(""),
        m.constraints.size, m.dv.isDefined,
        if (m.dataDir.isDefined) "dir" else "manifest"))
      .toDF("location", "version", "n_rows", "num_files", "size_bytes",
        "partition_columns", "bucket_spec", "n_constraints", "has_dv",
        "layout")
  }

  /** `SHOW CREATE TABLE` — the table's logical definition as an
    * EXECUTABLE statement script: one `CREATE TABLE snap.\`root\`
    * ... AS SELECT` carrying the logical schema and both layout
    * clauses, followed by one `ALTER TABLE ... ADD CONSTRAINT` per
    * logged CHECK constraint. Running the emitted script against a
    * fresh root reproduces the table's schema, layouts, and policy —
    * the round-trip the spec pins.
    */
  def createTableStmts(spark: SparkSession, root: String): Seq[String] = {
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"$root has no committed versions"))
    val m = versionMeta(spark, root, v)
    requireLive(m, root, "createTableStmts")
    val schema = schemaOf(spark, root, m)
    val logical = org.apache.spark.sql.types.StructType(
      schema.fields.flatMap(f =>
        m.colmap.logicalOf(f.name).map(l => f.copy(name = l))))
    val cols = logical.fields.map(f =>
      s"CAST(NULL AS ${f.dataType.sql}) AS `${f.name}`").mkString(", ")
    val partsClause =
      if (m.parts.isEmpty) ""
      else s"\nPARTITIONED BY (${m.parts.map(c => s"`$c`").mkString(", ")})"
    val bucketClause = m.bucket.map { b =>
      val sorted =
        if (b.sort.isEmpty) ""
        else s" SORTED BY (${b.sort.map(c => s"`$c`").mkString(", ")})"
      s"\nCLUSTERED BY (${b.cols.map(c => s"`$c`").mkString(", ")})" +
        sorted + s" INTO ${b.n} BUCKETS"
    }.getOrElse("")
    val create = s"CREATE TABLE snap.`$root`$partsClause$bucketClause" +
      s"\nAS SELECT $cols FROM (SELECT 1 AS __one) WHERE 1 = 0"
    val cons = m.constraints.map { case (n, e) =>
      s"ALTER TABLE snap.`$root` ADD CONSTRAINT `$n` CHECK ($e)"
    }
    create +: cons
  }

  /** Reclaim storage: keep the last `keepLast` versions (and
    * whatever data dirs they reference — a rollback target stays
    * alive as long as any kept version points at it), delete older
    * version files and now-unreferenced data dirs, INCLUDING orphan
    * dirs from crashed commits that never published.
    */
  def vacuum(spark: SparkSession, root: String, keepLast: Int,
             orphanGraceMs: Long = 24L * 3600 * 1000,
             protectedVersions: Set[Long] = Set.empty): Unit = {
    val all = versions(spark, root)
    vacuumKeep(spark, root, all, countKeep(all, keepLast, protectedVersions),
      orphanGraceMs)
  }

  /** The keepSet a count-based retention resolves to — ONE derivation
    * shared by [[vacuum]] and its DRY RUN preview (like [[retainKeep]]
    * for the time-based pair), so the preview can never drift from
    * the reclaim. protectedVersions ENFORCES the catalog/clone
    * retention contract (the doc-comment rule at
    * [[graft.etl.Catalog]]): pass `Catalog.pinnedVersions(...)` and a
    * routine vacuum can no longer silently break historical catalog
    * reads or live shallow clones — a pinned old version survives any
    * keepLast.
    */
  private def countKeep(all: Seq[Long], keepLast: Int,
                        protectedVersions: Set[Long]): Set[Long] = {
    require(keepLast >= 1)
    all.takeRight(keepLast).toSet ++ protectedVersions.filter(all.contains)
  }

  /** TIME-BASED retention (`VACUUM ... RETAIN n HOURS` — what
    * operators actually configure): keep every version committed
    * WITHIN the horizon — the commit-file mtime clock
    * [[versionAsOf]] already travels by — plus, always, the latest
    * (a quiet table must stay readable at any retention). A version
    * whose mtime equals the horizon exactly SURVIVES (inclusive
    * bound — "retain 168 hours" means 168 hours stays readable).
    * Same reclaim semantics as [[vacuum]], including the
    * `protectedVersions` pin contract and the in-flight-commit
    * orphan grace.
    */
  def vacuumRetainMs(spark: SparkSession, root: String, retainMs: Long,
                     orphanGraceMs: Long = 24L * 3600 * 1000,
                     protectedVersions: Set[Long] = Set.empty,
                     nowMs: Option[Long] = None): Unit =
    retainKeep(spark, root, retainMs, protectedVersions, nowMs).foreach {
      case (all, keepSet) => vacuumKeep(spark, root, all, keepSet, orphanGraceMs)
    }

  /** The (allVersions, keepSet) a time-based retention resolves to —
    * shared by [[vacuumRetainMs]] and its DRY RUN preview. None when
    * the table has no version log.
    */
  private def retainKeep(spark: SparkSession, root: String, retainMs: Long,
                         protectedVersions: Set[Long],
                         nowMs: Option[Long]): Option[(Seq[Long], Set[Long])] = {
    require(retainMs >= 0, s"negative retention $retainMs")
    val dir = versionsDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return None
    // nowMs pins the horizon for deterministic retention jobs (and
    // the boundary spec); production callers omit it
    val cutoff = nowMs.getOrElse(System.currentTimeMillis()) - retainMs
    val stamped = f.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VFILE(n) => Some((n.toLong, st.getModificationTime))
        case _ => None
      }
    }.sortBy(_._1)
    if (stamped.isEmpty) return None
    val all = stamped.map(_._1)
    val keepSet = stamped.collect { case (v, ts) if ts >= cutoff => v }.toSet ++
      Set(all.last) ++ protectedVersions.filter(all.contains)
    Some((all, keepSet))
  }

  /** `VACUUM ... DRY RUN` (count-based retention): one row per
    * artifact the same [[vacuum]] would delete — dropped version
    * files, unreferenced data dirs / manifests / deletion vectors
    * past the orphan grace, and their layouts' stats tables — with
    * NOTHING mutated (not even the hint refresh; a preview must be
    * side-effect-free). The first thing an operator wants before a
    * reclaim on a 100 TB table.
    */
  def vacuumDryRun(spark: SparkSession, root: String, keepLast: Int,
                   orphanGraceMs: Long = 24L * 3600 * 1000,
                   protectedVersions: Set[Long] = Set.empty): DataFrame = {
    val all = versions(spark, root)
    planFrame(spark, vacuumPlanOf(spark, root, all,
      countKeep(all, keepLast, protectedVersions), orphanGraceMs))
  }

  /** [[vacuumDryRun]]'s time-based twin — previews
    * [[vacuumRetainMs]].
    */
  def vacuumDryRunRetainMs(spark: SparkSession, root: String, retainMs: Long,
                           orphanGraceMs: Long = 24L * 3600 * 1000,
                           protectedVersions: Set[Long] = Set.empty,
                           nowMs: Option[Long] = None): DataFrame =
    retainKeep(spark, root, retainMs, protectedVersions, nowMs) match {
      case Some((all, keepSet)) =>
        planFrame(spark, vacuumPlanOf(spark, root, all, keepSet, orphanGraceMs))
      case None => planFrame(spark, VacuumPlan(Nil, Nil, Nil, Nil, Nil, Nil))
    }

  private def planFrame(spark: SparkSession, p: VacuumPlan): DataFrame = {
    import spark.implicits._
    val rows =
      p.dropVersions.map(v => ("version", f"_versions/v$v%08d.json")) ++
        p.dataDirs.map(("data_dir", _)) ++
        p.manifests.map(("manifest", _)) ++
        p.dvs.map(("dv", _)) ++
        p.statsIds.map(id => ("stats", s"_stats/$id")) ++
        p.copyLedgers.map(("copy_ledger", _))
    rows.sortBy(r => (r._1, r._2)).toDF("kind", "path")
  }

  private def vacuumKeep(spark: SparkSession, root: String,
                         all: Seq[Long], keepSet: Set[Long],
                         orphanGraceMs: Long): Unit = {
    val drop = all.filterNot(keepSet)
    // refresh the listing floor BEFORE creating gaps: a protected
    // version below the retained tail may survive with its successor
    // deleted, and a stale hint pointing at it would make the probe
    // walk stop early — with a fresh hint at the true latest, probes
    // during and after the reclaim stay exact. The refresh preserves
    // the TAG claim too ([[lastTag]]'s checkpoint): computed before
    // any version file is deleted, so the walk is still exact, and
    // the replay guard keeps the max tag even after its version ages
    // out. This refresh is NOT best-effort like the publish-path one:
    // deleting versions above a surviving protected version with a
    // stale hint in place would make [[latestVersion]]'s forward
    // probe stop early and a later publish could recreate a vacuumed
    // slot BELOW the true latest, corrupting log order — so a failed
    // write deletes the hint (forcing the full-listing fallback), and
    // if even that fails the reclaim ABORTS with nothing deleted.
    if (all.nonEmpty && drop.nonEmpty) {
      val vf = fs(spark, versionsDir(root))
      val tagClaim = lastTag(spark, root)
      val fresh = readHint(vf, hintFile(root)).contains(
        (all.max, tagClaim)) ||
        writeHint(vf, root, all.max, tagClaim)
      if (!fresh) {
        val gone =
          try !vf.exists(hintFile(root)) || vf.delete(hintFile(root), true)
          catch { case scala.util.control.NonFatal(_) => false }
        require(gone, s"$root: vacuum could neither refresh nor remove " +
          "the _latest_hint — aborting the reclaim (a stale hint plus " +
          "version-file gaps would corrupt latestVersion)")
      }
    }
    val plan = vacuumPlanOf(spark, root, all, keepSet, orphanGraceMs)
    val f = fs(spark, new Path(root))
    // a dropped version's COPY ledger outlives it: rename `c-` → `k-`
    // (the permanent registry) BEFORE the version file goes —
    // loaded-file state must survive log truncation, or a later COPY
    // would re-load rows the table still carries
    plan.dropVersions.foreach { v =>
      scala.util.Try(versionMeta(spark, root, v)).toOption
        .flatMap(_.copyRef).foreach { rel =>
          val c = new Path(root, rel)
          val name = c.getName
          if (name.startsWith("c-") && f.exists(c)) {
            val k = new Path(root, s"_copy/k-${name.stripPrefix("c-")}")
            val preserved =
              if (f.exists(k)) { f.delete(c, false); true }
              else f.rename(c, k) || f.exists(k)
            require(preserved,
              s"$root: vacuum could not preserve COPY ledger $rel — " +
                s"aborting before deleting version $v")
          }
        }
    }
    plan.dropVersions.foreach(v => f.delete(versionFile(root, v), false))
    // a reclaimed layout's skipping index is dead weight too, and its
    // memo entry must not outlive the deleted `_stats/<layout>` dir
    val rootKey = rootPathOf(spark, root)
    def dropStats(id: String): Unit = {
      statsCache.synchronized { statsCache.remove((rootKey, id)) }
      f.delete(statsPath(root, id), true)
    }
    plan.dataDirs.foreach { rel =>
      f.delete(new Path(root, rel), true)
      dropStats(rel.stripPrefix("data/"))
    }
    plan.manifests.foreach { rel =>
      f.delete(new Path(root, rel), false)
      dropStats(rel.split('/').last.stripSuffix(".txt"))
    }
    plan.dvs.foreach(rel => f.delete(new Path(root, rel), true))
    plan.statsIds.foreach(dropStats)
    plan.copyLedgers.foreach(rel => f.delete(new Path(root, rel), false))
  }

  /** The reclaim set a [[vacuumKeep]] with these inputs would delete
    * — computed with nothing mutated, so the DRY RUN preview and the
    * real reclaim share ONE decision path and can never drift.
    * `statsIds` lists existing stats tables only (a preview must not
    * report phantom files); the apply side additionally clears the
    * (possibly absent) stats of every dropped dir/manifest, a no-op
    * when absent.
    */
  private final case class VacuumPlan(dropVersions: Seq[Long],
                                      dataDirs: Seq[String],
                                      manifests: Seq[String],
                                      dvs: Seq[String],
                                      statsIds: Seq[String],
                                      copyLedgers: Seq[String] = Nil)

  private def vacuumPlanOf(spark: SparkSession, root: String,
                           all: Seq[Long], keepSet: Set[Long],
                           orphanGraceMs: Long): VacuumPlan = {
    val keep = all.filter(keepSet)
    val drop = all.filterNot(keepSet)
    val keepMetas = keep.map(versionMeta(spark, root, _))
    // a kept version pins its data dirs: a dir version pins its one
    // dir; a manifest version pins EVERY dir it references files in
    // (dir-granular retention — a partially-referenced dir keeps its
    // superseded files until the last version referencing it ages
    // out, bounded by retained history — Delta-without-file-granular-
    // vacuum semantics)
    // pin the TOP-LEVEL data dir ("data/c-xxx"), not the file's
    // immediate parent: a partitioned layout nests `__p_k=v` segments
    // under it, and the reclaim loop below compares top-level names —
    // pinning the nested parent would leave the whole dir "unkept"
    // and a routine vacuum would delete a LIVE version's data
    val keepDirs = keepMetas.flatMap { m =>
      m.dataDir.map(Seq(_)).getOrElse(
        relFilesOf(spark, root, m)
          .filter(_.startsWith("data/"))
          .map(rel => rel.split('/').take(2).mkString("/")))
    }.toSet
    val keepManifests = keepMetas.flatMap(_.manifest).toSet
    val keepLayouts = keepMetas.map(_.layoutId).toSet
    val f = fs(spark, new Path(root))
    // an unreferenced dir younger than the grace window may be an
    // IN-FLIGHT commit (data written, version not yet published) —
    // deleting it would corrupt the concurrent writer. Delta's
    // vacuum retention threshold exists for exactly this race; the
    // default grace comfortably exceeds any sane commit duration.
    // orphanGraceMs = 0 restores eager reclaim for offline cleanup.
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    val dataRoot = new Path(root, "data")
    val dirDrops =
      if (!f.exists(dataRoot)) Seq.empty[String]
      else f.listStatus(dataRoot).toSeq.map(st =>
          (s"data/${st.getPath.getName}", st.getModificationTime))
        .collect { case (rel, ts)
            if !keepDirs.contains(rel) && ts <= cutoff => rel }
    // dropped/orphaned manifests (and their layouts' stats) reclaim
    // under the same grace rule as data dirs
    val manRoot = new Path(root, "manifests")
    val manDrops =
      if (!f.exists(manRoot)) Seq.empty[String]
      else f.listStatus(manRoot).toSeq.collect {
        case st if !st.getPath.getName.startsWith(".") &&
            !keepManifests.contains(s"manifests/${st.getPath.getName}") &&
            st.getModificationTime <= cutoff =>
          s"manifests/${st.getPath.getName}"
      }
    // deletion vectors pin like manifests: kept versions' vectors
    // stay, dropped/orphaned ones reclaim under the same grace rule
    val keepDvs = keepMetas.flatMap(_.dv).toSet
    val dvRoot = new Path(root, "dv")
    val dvDrops =
      if (!f.exists(dvRoot)) Seq.empty[String]
      else f.listStatus(dvRoot).toSeq.collect {
        case st if !st.getPath.getName.startsWith(".") &&
            !keepDvs.contains(s"dv/${st.getPath.getName}") &&
            st.getModificationTime <= cutoff =>
          s"dv/${st.getPath.getName}"
      }
    // stats of dropped DIR layouts whose dir survived (still pinned by
    // a manifest) are still live only if the layout itself is kept
    val statsRoot = new Path(root, "_stats")
    val statsLoose =
      if (!f.exists(statsRoot)) Seq.empty[String]
      else f.listStatus(statsRoot).toSeq.collect {
        case st if !keepLayouts.contains(st.getPath.getName) &&
            !keepDirs.contains(s"data/${st.getPath.getName}") &&
            st.getModificationTime <= cutoff =>
          st.getPath.getName
      }
    val statsCoupled = (dirDrops.map(_.stripPrefix("data/")) ++
        manDrops.map(_.split('/').last.stripSuffix(".txt")))
      .filter(id => f.exists(statsPath(root, id)))
    // COPY ledgers: `k-` files are the permanent registry (never
    // reclaimed); a `c-` file referenced by NO version — kept or
    // dropped — is a crashed COPY's orphan and reclaims past the
    // grace. A DROPPED version's referenced ledger is NOT in this
    // list: the apply side renames it to `k-` instead of deleting.
    val refdLedgers = (keepMetas.flatMap(_.copyRef) ++
      drop.flatMap(v => scala.util.Try(versionMeta(spark, root, v))
        .toOption.flatMap(_.copyRef))).toSet
    val copyRoot = new Path(root, "_copy")
    val copyDrops =
      if (!f.exists(copyRoot)) Seq.empty[String]
      else f.listStatus(copyRoot).toSeq.collect {
        case st if st.getPath.getName.startsWith("c-") &&
            !refdLedgers.contains(s"_copy/${st.getPath.getName}") &&
            st.getModificationTime <= cutoff =>
          s"_copy/${st.getPath.getName}"
      }
    VacuumPlan(drop, dirDrops, manDrops, dvDrops,
      (statsCoupled ++ statsLoose).distinct, copyDrops)
  }
}
