package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The one-file skipping index (`_stats/<layout>.json`,
  * [[VersionLog.encodeStats]]/[[VersionLog.decodeStats]]): every stats
  * column type the index holds reads back from the file exactly as
  * [[StatsIndex.buildRows]] built it — the special floating values, a
  * decimal's scale, microsecond timestamps, hostile strings, null
  * min/max and the padded zero-row files.
  */
class StatsFileSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("dec", DecimalType(12, 3)), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("s", StringType)))
  private val cols = schema.fieldNames.toSeq

  private def ts(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  /** One row per special value, each column at its own edge. */
  private val specials: Seq[Row] = Seq(
    Row(Int.MinValue, Long.MinValue, Float.NaN, Double.NaN,
      new java.math.BigDecimal("-999999999.999"), java.sql.Date.valueOf("0001-01-01"),
      ts(-62135596800000000L), "\u0000\u0001\t\n\r\u001f\"\\"),
    Row(Int.MaxValue, Long.MaxValue, -0.0f, -0.0,
      new java.math.BigDecimal("0.100"), java.sql.Date.valueOf("1970-01-01"),
      ts(1L), "ünïcødé — 日本語 🚀"),
    Row(0, 0L, Float.PositiveInfinity, Double.PositiveInfinity,
      new java.math.BigDecimal("123.450"), java.sql.Date.valueOf("9999-12-31"),
      ts(1700000000123456L), ""),
    Row(-1, -1L, Float.NegativeInfinity, Double.NegativeInfinity,
      new java.math.BigDecimal("-0.001"), java.sql.Date.valueOf("2024-02-29"),
      ts(-1L), "\u2028line\u2029sep\u0085"),
    Row(1, 1L, 0.0f, 0.0, new java.math.BigDecimal("0.000"),
      java.sql.Date.valueOf("1582-10-15"), ts(0L), " "),
    Row(null, null, Float.MinPositiveValue, Double.MinPositiveValue, null, null, null, null),
    Row(null, null, null, null, null, null, null, null))

  /** A seeded row: values drawn from the specials and random draws. */
  private def randomRow(r: scala.util.Random): Row = {
    def pick(i: Int, fresh: => Any): Any =
      if (r.nextInt(4) == 0) specials(r.nextInt(specials.size)).get(i) else fresh
    Row(pick(0, r.nextInt()), pick(1, r.nextLong()), pick(2, r.nextFloat() * 1e6f - 5e5f),
      pick(3, r.nextGaussian() * 1e12), pick(4, java.math.BigDecimal.valueOf(
        r.nextLong() % 1000000000000L, 3)),
      pick(5, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r.nextInt(800000) - 400000))),
      pick(6, ts(r.nextLong() % 4000000000000000L)),
      pick(7, new String(Array.fill(r.nextInt(6))(r.nextInt(0x3000).toChar))))
  }

  /** Strict value identity: the sign of zero, a decimal's scale and a
    * timestamp's nanos count, which `Row.equals` does not all compare.
    */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: java.lang.Float, y: java.lang.Float) =>
      java.lang.Float.floatToIntBits(x) == java.lang.Float.floatToIntBits(y)
    case (x: java.lang.Double, y: java.lang.Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.equals(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.equals(y) && x.getNanos == y.getNanos
    case _ => a != null && a.getClass == b.getClass && a == b
  }

  private def roundTrip(stats: (StructType, Array[Row]), what: String): Unit = {
    val (s, rows) = stats
    val (s2, rows2) = VersionLog.decodeStats(VersionLog.encodeStats(s, rows.toSeq), what)
    assert(s2 === s, what)
    assert(rows2.length === rows.length, what)
    rows.zip(rows2).foreach { case (a, b) =>
      assert(a.length === b.length && (0 until a.length).forall(i => same(a.get(i), b.get(i))),
        s"$what: $a read back as $b")
    }
  }

  test("every stats column type round-trips exactly through the index file") {
    (0 until 3).foreach { seed =>
      val r = new scala.util.Random(seed)
      val root = tmpDir(s"stats_file_$seed")
      // one file per special row (min = max = the special), seeded
      // files of random rows, and one empty file (the padded row)
      val tagged = specials.map(Seq(_)) ++ Seq.fill(6)(Seq.fill(1 + r.nextInt(5))(randomRow(r)))
      val rows = tagged.zipWithIndex.flatMap { case (rs, f) => rs.map(x => Row.fromSeq(x.toSeq :+ f)) }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          schema.add("__f", IntegerType))
        .coalesce(1).write.partitionBy("__f").parquet(s"$root/t")
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
        .coalesce(1).write.parquet(s"$root/t/__f=999")
      val data = spark.read.parquet(s"$root/t")
      val built = StatsIndex.buildRows(data, cols)
      assert(built._2.length === tagged.size + 1)
      val (nIdx, minS) = (built._1.fieldIndex("n_rows"), built._1.fieldIndex("min_s"))
      assert(built._2.count(_.getLong(nIdx) == 0L) === 1, "one padded empty file")
      assert(built._2.exists(_.isNullAt(minS)), "a null min")
      roundTrip(built, s"seed $seed")
      // the index of a file-less layout is its header alone
      roundTrip((built._1, Array.empty[Row]), s"header only $seed")
    }
    // the specials as stats rows verbatim: -0.0, NaN and both
    // infinities as min and max, whatever an aggregate normalizes
    val direct = StructType(StructField("file", StringType, nullable = false) +:
      schema.fields.toSeq.flatMap(f => Seq(f.copy(name = s"min_${f.name}"),
        f.copy(name = s"max_${f.name}"))))
    roundTrip((direct, specials.zipWithIndex.map { case (x, k) =>
      Row.fromSeq(s"file:/t/f$k.parquet" +: x.toSeq.flatMap(v => Seq(v, v)))
    }.toArray), "specials")
  }

  test("a malformed index file refuses") {
    val s = StructType(Seq(StructField("file", StringType), StructField("n_rows", LongType)))
    val body = VersionLog.encodeStats(s, Seq(Row("f1", 3L), Row("f2", 4L)))
    Seq(body.dropRight(3), "not json", body.replace("\"f2\",4", "\"f2\",\"4\"")).foreach { bad =>
      intercept[IllegalStateException](VersionLog.decodeStats(bad, "x"))
    }
  }
}
