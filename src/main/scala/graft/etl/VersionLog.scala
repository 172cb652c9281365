package graft.etl

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.jdk.CollectionConverters._

import Snapshots.{Bucketing, CkptRow, ColMap, VMeta}

/** The on-disk format of the snapshot tier's JSON logs — the one
  * module that reads or writes a version body (`_versions/v*.json`),
  * an audit checkpoint line (`_versions/_ckpt`) or a catalog version
  * body ([[Catalog]]).
  *
  * Bodies are compact JSON with a fixed field order:
  * {{{
  *   {"version":7,"manifest":"manifests/m-….txt","n_rows":20,
  *    "features":["dv"],"tag":3,"schema":"…","dv":"dv/…",
  *    "parts":["p"],"bucket":{"n":4,"cols":["id"],"sort":[]},
  *    "colmap":{"renames":[{"p":"a","l":"b"}],"dropped":["c"]},
  *    "copy":"_copy/…","constraints":[{"name":"pos","expr":"id > 0"}]}
  * }}}
  * (`data_dir` in place of `manifest` for a whole-dir version; absent
  * optional fields are omitted). Strings are JSON-escaped, control
  * characters included. Logs written before this codec left line
  * breaks inside strings raw, so the reader accepts unescaped control
  * characters; every other string encodes to the same bytes it had
  * then, so either side reads the other's logs.
  */
private[graft] object VersionLog {

  /** The JSON mapper of every log body (and of `graft.Verify`'s
    * oracle dump).
    */
  val mapper: JsonMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .build()

  /** Format features THIS library understands. A version body lists
    * the features its correct interpretation REQUIRES (`"features"`,
    * derived by [[encode]] — never hand-passed): `dv` (ignoring the
    * deletion vector resurrects deleted rows), `colmap` (ignoring
    * the mapping presents dropped/renamed physical names), `bucket`
    * (a writer ignoring the layout breaks bucket identity for every
    * later shuffle-free read), `tombstone` (a dropped table would
    * read as empty). [[decode]] refuses a version demanding a feature
    * outside this set — the Delta reader-version discipline: when a
    * FUTURE writer adds a feature with correctness semantics, today's
    * binary fails loudly instead of silently mis-reading the table.
    */
  private val SupportedFeatures = Set("dv", "colmap", "bucket", "tombstone")

  /** The body of version `v` with metadata `m`. */
  def encode(v: Long, m: VMeta): String = {
    val o = mapper.createObjectNode().put("version", v)
    m.dataDir match {
      case Some(d) => o.put("data_dir", d)
      case None => o.put("manifest", m.manifest.get)
    }
    o.put("n_rows", m.nRows)
    val features = Seq(m.dv.map(_ => "dv"), m.bucket.map(_ => "bucket"),
      Some("colmap").filterNot(_ => m.colmap.isIdentity),
      Some("tombstone").filter(_ => m.tombstone)).flatten
    if (features.nonEmpty) putStrings(o, "features", features)
    m.tag.foreach(o.put("tag", _))
    m.schemaDdl.foreach(o.put("schema", _))
    m.dv.foreach(o.put("dv", _))
    if (m.parts.nonEmpty) putStrings(o, "parts", m.parts)
    m.bucket.foreach { b =>
      val bo = o.putObject("bucket").put("n", b.n)
      putStrings(bo, "cols", b.cols)
      putStrings(bo, "sort", b.sort)
    }
    if (!m.colmap.isIdentity) {
      val co = o.putObject("colmap")
      val rn = co.putArray("renames")
      m.colmap.renames.foreach { case (p, l) => rn.addObject().put("p", p).put("l", l) }
      putStrings(co, "dropped", m.colmap.dropped)
    }
    m.copyRef.foreach(o.put("copy", _))
    if (m.constraints.nonEmpty) {
      val cs = o.putArray("constraints")
      m.constraints.foreach { case (n, e) => cs.addObject().put("name", n).put("expr", e) }
    }
    mapper.writeValueAsString(o)
  }

  /** The metadata of a version body read from `where`. Refuses a body
    * that is not a JSON object, names neither or both of `data_dir`
    * and `manifest`, or lacks a non-negative `n_rows`
    * (IllegalStateException: a silent -1 would be republished by a
    * rollback), and one demanding a feature outside
    * [[SupportedFeatures]] (IllegalArgumentException).
    */
  def decode(body: String, where: String): VMeta = {
    def malformed = new IllegalStateException(s"$where is not a version file")
    val o = parse(body).getOrElse(throw malformed)
    val dir = ref(o, "data_dir")
    val man = ref(o, "manifest")
    if (dir.isEmpty == man.isEmpty) throw malformed
    val demanded = strings(o.get("features")).toSet
    val unknown = demanded -- SupportedFeatures
    require(unknown.isEmpty,
      s"$where requires format features ${unknown.mkString(", ")} this " +
        "reader does not support — upgrade the library to read this version")
    val n = long(o, "n_rows").getOrElse(throw malformed)
    val bucket = obj(o, "bucket").flatMap(b => int(b, "n").map(n =>
      Bucketing(n, strings(b.get("cols")), strings(b.get("sort")))))
    val colmap = obj(o, "colmap").map(c => ColMap(
      objects(c.get("renames")).flatMap(r => str(r, "p").zip(str(r, "l"))),
      strings(c.get("dropped")))).getOrElse(ColMap())
    val cons = objects(o.get("constraints"))
      .flatMap(c => str(c, "name").zip(str(c, "expr")))
    // `copy` (the COPY INTO ledger) is no feature: a reader unaware
    // of it still reads every row correctly
    VMeta(dir, man, n, long(o, "tag"), str(o, "schema"), ref(o, "dv"), cons,
      strings(o.get("parts")), bucket, colmap, demanded.contains("tombstone"),
      ref(o, "copy"))
  }

  /** The version number a body declares — what the streaming
    * harnesses read off the version files they tail. None for a body
    * that declares none.
    */
  def versionOf(body: String): Option[Long] = parse(body).flatMap(long(_, "version"))

  /** One `_ckpt` line. `copy` is always written (empty = none). */
  def encodeCkpt(r: CkptRow): String = {
    val o = mapper.createObjectNode().put("v", r.v).put("layout", r.layout)
      .put("ref", r.ref).put("n_rows", r.nRows)
    r.tag.foreach(o.put("tag", _))
    mapper.writeValueAsString(o.put("dv", if (r.hasDv) 1 else 0)
      .put("n_cons", r.nCons).put("copy", r.copyRef.getOrElse("")))
  }

  private val CkptLayouts = Set("dir", "manifest", "tombstone")

  /** One `_ckpt` line's row; None for a torn or malformed line, whose
    * version is then re-derived from its version file. `copy` is
    * required: a line written before the copy ledger existed must be
    * re-derived (the version file carries the ref), since a missed
    * ref would silently re-load already-copied files.
    */
  def decodeCkpt(line: String): Option[CkptRow] =
    for {
      o <- parse(line)
      v <- long(o, "v")
      layout <- str(o, "layout") if CkptLayouts(layout)
      r <- str(o, "ref")
      n <- Option(o.get("n_rows")).filter(x => x.isIntegralNumber && x.canConvertToLong)
      tag <- if (o.has("tag")) long(o, "tag").map(Some(_)) else Some(None)
      dv <- int(o, "dv") if dv <= 1
      nCons <- int(o, "n_cons")
      cp <- str(o, "copy")
    } yield CkptRow(v, layout, r, n.longValue, tag, dv == 1, nCons,
      Some(cp).filter(_.nonEmpty))

  /** The body of catalog version `v`, pins sorted by name. */
  def encodePins(v: Long, pins: Map[String, Catalog.Pin]): String = {
    val o = mapper.createObjectNode().put("version", v)
    val a = o.putArray("pins")
    pins.toSeq.sortBy(_._1).foreach { case (name, p) =>
      a.addObject().put("name", name).put("root", p.root).put("version", p.version)
    }
    mapper.writeValueAsString(o)
  }

  /** The pin map of a catalog body read from `where`. */
  def decodePins(body: String, where: String): Map[String, Catalog.Pin] = {
    val o = parse(body).getOrElse(
      throw new IllegalStateException(s"$where is not a catalog version"))
    objects(o.get("pins")).flatMap(p =>
      for (name <- str(p, "name"); root <- str(p, "root"); v <- long(p, "version"))
        yield name -> Catalog.Pin(root, v)).toMap
  }

  private def parse(s: String): Option[ObjectNode] =
    scala.util.Try(mapper.readTree(s)).toOption.collect { case o: ObjectNode => o }

  private def str(o: JsonNode, k: String): Option[String] =
    Option(o.get(k)).filter(_.isTextual).map(_.textValue)

  /** A file or dir reference: present only when non-empty. */
  private def ref(o: JsonNode, k: String): Option[String] = str(o, k).filter(_.nonEmpty)

  /** A non-negative integral field. */
  private def long(o: JsonNode, k: String): Option[Long] =
    Option(o.get(k)).filter(x => x.isIntegralNumber && x.canConvertToLong && x.longValue >= 0)
      .map(_.longValue)

  private def int(o: JsonNode, k: String): Option[Int] =
    long(o, k).filter(_.isValidInt).map(_.toInt)

  private def obj(o: JsonNode, k: String): Option[JsonNode] = Option(o.get(k)).filter(_.isObject)

  private def objects(a: JsonNode): Seq[JsonNode] =
    if (a == null || !a.isArray) Nil else a.elements.asScala.filter(_.isObject).toSeq

  private def strings(a: JsonNode): Seq[String] =
    if (a == null || !a.isArray) Nil else a.elements.asScala.filter(_.isTextual).map(_.textValue).toSeq

  private def putStrings(o: ObjectNode, k: String, xs: Seq[String]): Unit = {
    val a = o.putArray(k)
    xs.foreach(x => a.add(x))
  }
}
