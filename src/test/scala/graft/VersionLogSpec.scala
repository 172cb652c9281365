package graft

import graft.etl.{Catalog, VersionLog}
import graft.etl.Snapshots.{Bucketing, CkptRow, ColMap, VMeta}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The version-log codec (etl/VersionLog): a corpus of bodies in the
  * byte format the hand-built writers produced (so logs written
  * before the codec read back exactly, and re-encode to the same
  * bytes), `_ckpt` and catalog lines, and a seeded round-trip
  * property over hostile strings.
  */
class VersionLogSpec extends AnyFunSuite {

  private def forAllSeeded[A](gen: Gen[A], n: Int = 15)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private val corpus: Seq[(String, VMeta)] = Seq(
    """{"version":1,"data_dir":"data/c-0a1b2c3d4e5f6","n_rows":4,"schema":"id BIGINT,s STRING"}""" ->
      VMeta(Some("data/c-0a1b2c3d4e5f6"), None, 4L, None, Some("id BIGINT,s STRING")),
    """{"version":2,"manifest":"manifests/m-0a1b2c3d-4e5f.txt","n_rows":20,"tag":7,"schema":"id BIGINT,s STRING"}""" ->
      VMeta(None, Some("manifests/m-0a1b2c3d-4e5f.txt"), 20L, Some(7L), Some("id BIGINT,s STRING")),
    """{"version":3,"manifest":"manifests/m-1.txt","n_rows":0,"features":["tombstone"]}""" ->
      VMeta(None, Some("manifests/m-1.txt"), 0L, None, tombstone = true),
    """{"version":4,"manifest":"manifests/m-2.txt","n_rows":19,"features":["dv"],"schema":"id BIGINT","dv":"dv/d-0a1b2c3d-4e5f"}""" ->
      VMeta(None, Some("manifests/m-2.txt"), 19L, None, Some("id BIGINT"), Some("dv/d-0a1b2c3d-4e5f")),
    """{"version":5,"data_dir":"data/c-3","n_rows":100,"schema":"id BIGINT,grp STRING","parts":["grp","day"]}""" ->
      VMeta(Some("data/c-3"), None, 100L, None, Some("id BIGINT,grp STRING"), parts = Seq("grp", "day")),
    """{"version":6,"data_dir":"data/c-4","n_rows":100,"features":["bucket"],"schema":"id BIGINT","bucket":{"n":4,"cols":["id"],"sort":["id","s"]}}""" ->
      VMeta(Some("data/c-4"), None, 100L, None, Some("id BIGINT"),
        bucket = Some(Bucketing(4, Seq("id"), Seq("id", "s")))),
    """{"version":7,"manifest":"manifests/m-5.txt","n_rows":9,"features":["colmap"],"schema":"a BIGINT,b STRING,c INT","colmap":{"renames":[{"p":"a","l":"id"},{"p":"b","l":"name"}],"dropped":["c"]}}""" ->
      VMeta(None, Some("manifests/m-5.txt"), 9L, None, Some("a BIGINT,b STRING,c INT"),
        colmap = ColMap(Seq(("a", "id"), ("b", "name")), Seq("c"))),
    """{"version":8,"manifest":"manifests/m-6.txt","n_rows":30,"tag":9223372036854775807,"schema":"id BIGINT","copy":"_copy/c-0123456789abc.txt"}""" ->
      VMeta(None, Some("manifests/m-6.txt"), 30L, Some(Long.MaxValue), Some("id BIGINT"),
        copyRef = Some("_copy/c-0123456789abc.txt")),
    """{"version":9,"manifest":"manifests/m-7.txt","n_rows":5,"schema":"id BIGINT,s STRING","constraints":[{"name":"pos","expr":"id > 0"},{"name":"q\"x","expr":"s <> \"a\\b]\""}]}""" ->
      VMeta(None, Some("manifests/m-7.txt"), 5L, None, Some("id BIGINT,s STRING"),
        constraints = Seq(("pos", "id > 0"), ("q\"x", "s <> \"a\\b]\""))),
    """{"version":10,"manifest":"manifests/m-8.txt","n_rows":3,"features":["dv","bucket","colmap"],"tag":12,"schema":"k BIGINT,\"q\" STRING","dv":"dv/d-9","parts":["p"],"bucket":{"n":2,"cols":["k"],"sort":[]},"colmap":{"renames":[],"dropped":["z"]},"copy":"_copy/c-1.txt","constraints":[{"name":"c1","expr":"k > 0"}]}""" ->
      VMeta(None, Some("manifests/m-8.txt"), 3L, Some(12L), Some("k BIGINT,\"q\" STRING"),
        Some("dv/d-9"), Seq(("c1", "k > 0")), Seq("p"), Some(Bucketing(2, Seq("k"))),
        ColMap(Nil, Seq("z")), copyRef = Some("_copy/c-1.txt")))

  test("bodies in the hand-built writers' format decode exactly and re-encode byte-identically") {
    corpus.foreach { case (body, expected) =>
      assert(VersionLog.decode(body, "v") === expected, body)
      val v = VersionLog.versionOf(body).get
      assert(VersionLog.encode(v, expected) === body)
    }
  }

  test("a body with a raw line break inside a constraint (the old writers' output) decodes") {
    val body = "{\"version\":3,\"data_dir\":\"data/c-1\",\"n_rows\":2,\"constraints\":" +
      "[{\"name\":\"c\",\"expr\":\"s <> \\\"a\\\\b\\\"\n AND id > 0\"}]}"
    val m = VersionLog.decode(body, "v")
    assert(m.constraints === Seq(("c", "s <> \"a\\b\"\n AND id > 0")))
    assert(VersionLog.versionOf(body) === Some(3L))
    // the codec writes the line break escaped: the body is one line
    val again = VersionLog.encode(3L, m)
    assert(!again.exists(_ < ' '), again)
    assert(VersionLog.decode(again, "v") === m)
  }

  test("malformed bodies refuse with the reader's messages") {
    def refuses(body: String) = {
      val e = intercept[IllegalStateException](VersionLog.decode(body, "vf"))
      assert(e.getMessage === "vf is not a version file", body)
    }
    refuses("""{"version":1,"data_dir":"data/c-1"}""")
    refuses("""{"version":1,"data_dir":"data/c-1","n_rows":-1}""")
    refuses("""{"version":1,"n_rows":1}""")
    refuses("""{"version":1,"data_dir":"d","manifest":"m","n_rows":1}""")
    refuses("not json")
    val e = intercept[IllegalArgumentException](VersionLog.decode(
      """{"version":3,"data_dir":"data/ghost","n_rows":0,"features":["row_tracking_v9"]}""", "vf"))
    assert(e.getMessage.contains("row_tracking_v9") && e.getMessage.contains("upgrade"))
    assert(VersionLog.versionOf("3 7") === None)
  }

  test("_ckpt lines decode exactly, re-encode byte-identically; a line without copy is re-derived") {
    val lines = Seq(
      """{"v":1,"layout":"dir","ref":"data/c-1","n_rows":4,"dv":0,"n_cons":0,"copy":""}""" ->
        CkptRow(1L, "dir", "data/c-1", 4L, None, false, 0),
      """{"v":2,"layout":"manifest","ref":"manifests/m-2.txt","n_rows":20,"tag":7,"dv":1,"n_cons":2,"copy":"_copy/c-3.txt"}""" ->
        CkptRow(2L, "manifest", "manifests/m-2.txt", 20L, Some(7L), true, 2, Some("_copy/c-3.txt")),
      """{"v":3,"layout":"tombstone","ref":"manifests/m-3.txt","n_rows":0,"dv":0,"n_cons":0,"copy":""}""" ->
        CkptRow(3L, "tombstone", "manifests/m-3.txt", 0L, None, false, 0))
    lines.foreach { case (line, row) =>
      assert(VersionLog.decodeCkpt(line) === Some(row), line)
      assert(VersionLog.encodeCkpt(row) === line)
    }
    Seq(
      """{"v":4,"layout":"manifest","ref":"manifests/m-4.txt","n_rows":4,"dv":0,"n_cons":0}""",
      """{"v":5,"layout":"unsupported(features)","ref":"","n_rows":-1,"dv":0,"n_cons":0,"copy":""}""",
      """{"v":6,"layout":"dir","ref":"data/c-6","n_rows":4,"tag":-1,"dv":0,"n_cons":0,"copy":""}""",
      """{"v":7,"layout":"dir","ref":"data/c-7","n_rows":4,"dv":2,"n_cons":0,"copy":""}""",
      "garbage", """{"v":broken""", ""
    ).foreach(l => assert(VersionLog.decodeCkpt(l) === None, l))
  }

  test("catalog bodies decode exactly and re-encode byte-identically") {
    val body = """{"version":3,"pins":[{"name":"dim","root":"/tmp/cat/d","version":2},{"name":"fa\"ct","root":"/tmp/cat/f\\x","version":5}]}"""
    val pins = Map("dim" -> Catalog.Pin("/tmp/cat/d", 2L),
      "fa\"ct" -> Catalog.Pin("/tmp/cat/f\\x", 5L))
    assert(VersionLog.decodePins(body, "c") === pins)
    assert(VersionLog.encodePins(3L, pins) === body)
    intercept[IllegalStateException](VersionLog.decodePins("{\"version\":", "c"))
  }

  private val fragment = Gen.oneOf("a", "id", " ", "\"", "\\", "\\\"", "\n", "\r\n",
    "\t", "\u0000", "]", "}", "{\"x\":1}", "é", "日本", "💥", " ", ",")
  private val hostile = Gen.choose(0, 6).flatMap(Gen.listOfN(_, fragment)).map(_.mkString)
  private val nonEmpty = hostile.map("f" + _)
  // bucket columns pass requireLoggable at construction
  private val loggable = nonEmpty.map(_.filterNot(c => c == ']' || c == '\n' || c == '\r'))
  private val count = Gen.oneOf(Gen.const(0L), Gen.const(Long.MaxValue), Gen.choose(0L, Long.MaxValue))
  private def few[A](g: Gen[A]) = Gen.choose(0, 3).flatMap(Gen.listOfN(_, g))

  private val vmeta: Gen[VMeta] = for {
    isDir <- Gen.oneOf(true, false)
    ref <- nonEmpty
    nRows <- count
    tag <- Gen.option(count)
    schema <- Gen.option(hostile)
    dv <- Gen.option(nonEmpty)
    cons <- few(Gen.zip(hostile, hostile))
    parts <- few(hostile)
    bucket <- Gen.option(for {
      n <- Gen.choose(1, Int.MaxValue)
      c <- Gen.nonEmptyListOf(loggable).map(_.take(3))
      s <- few(loggable)
    } yield Bucketing(n, c, s))
    colmap <- Gen.zip(few(Gen.zip(hostile, hostile)), few(hostile))
    tombstone <- Gen.oneOf(true, false)
    copyRef <- Gen.option(nonEmpty)
  } yield VMeta(if (isDir) Some(ref) else None, if (isDir) None else Some(ref),
    nRows, tag, schema, dv, cons, parts, bucket, ColMap(colmap._1, colmap._2),
    tombstone, copyRef)

  test("decode(encode(m)) == m for generated metadata; every body is one line") {
    forAllSeeded(Gen.zip(vmeta, count), n = 300) { case (m, v) =>
      val body = VersionLog.encode(v, m)
      assert(!body.exists(c => c == '\n' || c == '\r'), body)
      assert(VersionLog.decode(body, "v") === m, body)
      assert(VersionLog.versionOf(body) === Some(v))
    }
  }
}
