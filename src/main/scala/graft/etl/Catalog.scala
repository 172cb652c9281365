package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-table transactional catalog — ATOMIC multi-table snapshots
  * over the [[Snapshots]] version logs (the Nessie / lakeFS catalog
  * pattern, scoped to what a pipeline actually needs): a catalog
  * version is one tiny JSON file pinning each named table to a
  * specific snapshot version, published with the same
  * create-exclusive promote as a table commit — so EVERY pin flips
  * in the same rename. This closes the consistency gap single-table
  * logs cannot: a star-schema write lands fact and dimension as two
  * independent table commits, and a reader between them joins new
  * facts against old dims. Reading THROUGH the catalog instead
  * resolves every table at its pinned version — a consistent
  * cross-table snapshot, immune to in-flight table commits, which
  * stay invisible until the next catalog publish pins them.
  *
  * Concurrency: `commit(expectedLatest = Some(v))` is the multi-
  * writer form — the publish refuses if another catalog commit
  * landed since the writer read `v` (read-modify-write over the pin
  * map, the same optimistic loop as [[Snapshots.merge]]). Without
  * it, pin sets are last-writer-wins, each still atomic.
  *
  * Scale: a catalog version is O(#tables) bytes of metadata; reads
  * add one tiny JSON fetch before the normal snapshot read. History
  * is the catalog's own append-only log — time travel across ALL
  * tables at once (`pins(v)`) costs the same one fetch.
  *
  * Retention contract: a pinned table version must outlive the
  * catalog versions that pin it — size each table's
  * `Snapshots.vacuum(keepLast)` to cover [[pinnedVersions]] (the
  * same rule Delta documents for clones).
  */
object Catalog {

  /** One table pin: the table's root dir and the committed snapshot
    * version the catalog version fixes it at.
    */
  final case class Pin(root: String, version: Long)

  /** Publish a catalog version pinning `pins` atomically. Every
    * pinned (root, version) must already be committed — the catalog
    * never points at data that is not yet readable (the same
    * data-before-metadata discipline as the table logs). With
    * `expectedLatest` set, refuses when the catalog advanced past it
    * (lost-update protection for read-modify-write writers).
    */
  def commit(spark: SparkSession, catRoot: String,
             pins: Map[String, Pin],
             expectedLatest: Option[Long] = None): Long = {
    require(pins.nonEmpty, "a catalog version needs at least one pin")
    pins.foreach { case (name, p) =>
      val vf = Snapshots.versionFile(p.root, p.version)
      require(vf.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(vf),
        s"pin '$name': ${p.root} has no committed version ${p.version}")
    }
    expectedLatest.foreach { exp =>
      val cur = Snapshots.latestVersion(spark, catRoot).getOrElse(0L)
      require(cur == exp,
        s"$catRoot: catalog advanced to $cur past expected $exp — " +
          "re-read the pins and retry")
    }
    val body = VersionLog.encodePins(_: Long, pins)
    // under expectedLatest the publish must land at EXACTLY exp+1 or
    // not at all — a retry at a later number would be the lost update
    // the parameter exists to prevent
    expectedLatest match {
      case Some(exp) =>
        val v = exp + 1
        require(Snapshots.tryPublish(spark, catRoot, v, body(v), None),
          s"$catRoot: lost the catalog publish race at version $v — " +
            "re-read the pins and retry")
        v
      case None => Snapshots.publishNext(spark, catRoot, body)
    }
  }

  /** The pin map of catalog version `v` (default: latest) — one tiny
    * JSON read.
    */
  def pins(spark: SparkSession, catRoot: String,
           v: Option[Long] = None): Map[String, Pin] = {
    val cv = v.orElse(Snapshots.latestVersion(spark, catRoot)).getOrElse(
      throw new IllegalArgumentException(
        s"$catRoot has no committed catalog versions"))
    val vf = Snapshots.versionFile(catRoot, cv)
    val f = vf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(vf), s"$catRoot has no catalog version $cv")
    VersionLog.decodePins(Snapshots.readUtf8(f, vf), vf.toString)
  }

  /** The MULTI-TABLE TRANSACTION helper — stage N table commits,
    * then flip the pin set atomically: `stage` runs ONCE (its table
    * commits are durable snapshot versions regardless of what the
    * catalog does next), its returned pins are MERGED over the
    * current pin map, and the merged set publishes with
    * `expectedLatest` lost-update protection. A racing catalog
    * commit costs one tiny re-read + re-publish of the pin map —
    * never a table re-write and never a torn pin set: every retry
    * re-merges the staged pins over the FRESH current map, so
    * neither this writer's tables nor the racer's pins are lost.
    * This is the one-call form of the q187 pattern (write fact AND
    * dim, then one atomic flip) — the transaction every star-schema
    * writer wants.
    *
    * Failure model: if `stage` throws, nothing was pinned (any table
    * versions it already committed are durable but unpinned —
    * harmless, invisible through the catalog, reclaimable by each
    * table's own vacuum). If the process dies between `stage` and
    * the publish, same state.
    */
  def writeAndPin(spark: SparkSession, catRoot: String,
                  maxAttempts: Int = 100)
                 (stage: => Map[String, Pin]): Long = {
    val staged = stage
    require(staged.nonEmpty, "writeAndPin: stage produced no pins")
    // validate ONCE that every staged pin is a committed version, so
    // a retry loop can treat any commit failure as a lost race
    staged.foreach { case (name, p) =>
      val vf = Snapshots.versionFile(p.root, p.version)
      require(vf.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(vf),
        s"writeAndPin '$name': ${p.root} has no committed version ${p.version}")
    }
    var attempts = 0
    while (true) {
      val cur = Snapshots.latestVersion(spark, catRoot)
      val merged = cur.map(v => pins(spark, catRoot, Some(v)))
        .getOrElse(Map.empty) ++ staged
      try return commit(spark, catRoot, merged,
        expectedLatest = Some(cur.getOrElse(0L)))
      catch {
        // ONLY the two race shapes retry ("catalog advanced past
        // expected" / "lost the catalog publish race") — a
        // validation failure (e.g. a current pin whose table version
        // was vacuumed away) is a real error and must surface at
        // once, not after 100 identical filesystem sweeps
        case e: IllegalArgumentException
            if e.getMessage != null &&
              (e.getMessage.contains("advanced to") ||
                e.getMessage.contains("publish race")) =>
          attempts += 1
          if (attempts >= maxAttempts) throw new IllegalStateException(
            s"$catRoot: writeAndPin lost $attempts catalog races", e)
      }
    }
    -1L // unreachable
  }

  /** Read table `name` AT ITS PINNED VERSION through catalog version
    * `catV` (default: latest) — the consistent cross-table read.
    */
  def read(spark: SparkSession, catRoot: String, name: String,
           catV: Option[Long] = None): DataFrame = {
    val p = pins(spark, catRoot, catV).getOrElse(name,
      throw new IllegalArgumentException(
        s"$catRoot: no table '$name' in catalog version " +
          s"${catV.getOrElse("latest")}"))
    Snapshots.read(spark, p.root, Some(p.version))
  }

  /** Every version of `tableRoot` any retained catalog version pins —
    * what the table's `vacuum(keepLast)` must keep alive.
    */
  def pinnedVersions(spark: SparkSession, catRoot: String,
                     tableRoot: String): Set[Long] =
    Snapshots.versions(spark, catRoot).flatMap(v =>
      pins(spark, catRoot, Some(v)).values
        .filter(_.root == tableRoot).map(_.version)).toSet
}
