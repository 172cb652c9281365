package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** A driver-resident cell codebook for [[NearestCell]]: cell ids,
  * their quantized vectors and the square roots of their squared
  * norms (the cosine denominator's codebook factor).
  */
final class CellBook(val ids: Array[Long], val vecs: Array[Array[Long]]) extends Serializable {
  val sqrtN2: Array[Double] = vecs.map(v => math.sqrt(CentroidMath.norm2(v).toDouble))
  def size: Int = ids.length
  override def toString: String = s"CellBook(${ids.length} cells)"
}

object CellBook {
  /** Quantize `(id, vector)` cells on the driver. */
  def apply(cells: Seq[(Long, collection.Seq[Float])]): CellBook =
    new CellBook(cells.map(_._1).toArray, cells.map(c => CentroidMath.quantize(c._2)).toArray)
}

/** A driver-resident product-quantization codebook: per subspace `s`
  * the codes in ascending order (`codes(s)`), each code's quantized
  * sub-centroid (`cents(s)(j)`) and its stored squared norm
  * (`cn2(s)(j)`). `dsub` is the subspace width; `off(s)` is where
  * subspace `s` starts in a flattened lookup table.
  */
final class PqBook(val codes: Array[Array[Int]], val cents: Array[Array[Array[Long]]],
                   val cn2: Array[Array[Long]], val dsub: Int) extends Serializable {
  def m: Int = codes.length
  val off: Array[Int] = codes.scanLeft(0)(_ + _.length)
  override def toString: String = s"PqBook(m=$m, dsub=$dsub, ${off(m)} codes)"
}

object PqBook {
  /** A codebook from its `(sub, code, cv, cn2)` rows: subspaces must
    * be 0 until m, each with at least one code.
    */
  def apply(rows: Seq[(Int, Int, collection.Seq[Float], Long)]): PqBook = {
    val bySub = rows.groupBy(_._1)
    val m = bySub.keys.max + 1
    require(bySub.keySet == (0 until m).toSet,
      s"codebook subspaces ${bySub.keys.toSeq.sorted.mkString(",")} are not 0 until $m")
    val subs = (0 until m).map(s => bySub(s).sortBy(_._2).toArray).toArray
    new PqBook(subs.map(_.map(_._2)), subs.map(_.map(r => CentroidMath.quantize(r._3))),
      subs.map(_.map(_._4)), rows.map(_._3.length).max)
  }
}

/** The arithmetic of the nearest-centroid kernels, one definition
  * shared by the Catalyst expressions below and the driver-side PQ
  * training (as [[QMath]] serves [[QDot]]). Vectors are quantized
  * once with [[QMath.quantize]]; a null component quantizes to 0,
  * which is what [[QDot]]'s skip of a null pair adds. Every dot is
  * [[QDot]]'s exact overflow-checked integer sum over the shorter
  * of the two vectors.
  */
object CentroidMath {

  def quantize(a: ArrayData): Array[Long] = {
    val n = a.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) q(i) = QMath.quantize(a.getFloat(i).toDouble * 1000000.0)
      i += 1
    }
    q
  }

  def quantize(v: collection.Seq[Float]): Array[Long] =
    v.iterator.map(x => QMath.quantize(x.toDouble * 1000000.0)).toArray

  /** Σ a(from + i)·b(i) over i < min(len, |b|). */
  def dot(a: Array[Long], from: Int, len: Int, b: Array[Long]): Long = {
    val n = math.min(len, b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = QMath.mulAdd(acc, a(from + i), b(i))
      i += 1
    }
    acc
  }

  def norm2(a: Array[Long]): Long = dot(a, 0, a.length, a)

  /** The subvector `q[from, from + len)` of a vector: `len` clamps to
    * the vector's end, as Spark's `slice` does.
    */
  def subLen(q: Array[Long], from: Int, dsub: Int): Int =
    math.max(0, math.min(dsub, q.length - from))

  /** The mean of a cell component from its exact integer sum over `n`
    * members: one IEEE division, as [[graft.llm.Similarity.cellMeans]]
    * computes it.
    */
  def mean(sum: Long, n: Long): Float = (sum.toDouble / (n * 1000000.0)).toFloat

  /** The nearest cell by exact-integer cosine
    * (`dot / (√n2_v · √n2_cell)`, `graft.llm.Similarity.cosine`'s
    * value) as `(id, sim)`: the highest sim in Spark's double
    * ordering (NaN greatest, −0.0 = 0.0), ties to the lowest id. A
    * zero denominator is a null sim, which ranks below every number.
    * An empty codebook has no nearest cell (null).
    */
  def nearestCell(book: CellBook, v: ArrayData): InternalRow = {
    if (book.size == 0) return null
    val q = quantize(v)
    val sv = math.sqrt(norm2(q).toDouble)
    var best = -1
    var bestSim = 0.0
    var bestNull = true
    var j = 0
    while (j < book.size) {
      val den = sv * book.sqrtN2(j)
      val isNull = den == 0.0
      val sim = if (isNull) 0.0 else dot(q, 0, q.length, book.vecs(j)).toDouble / den
      val better =
        if (best < 0) true
        else if (isNull || bestNull) {
          if (isNull && bestNull) book.ids(j) < book.ids(best) else bestNull
        } else {
          val c = SQLOrderingUtil.compareDoubles(sim, bestSim)
          c > 0 || (c == 0 && book.ids(j) < book.ids(best))
        }
      if (better) { best = j; bestSim = sim; bestNull = isNull }
      j += 1
    }
    new GenericInternalRow(Array[Any](book.ids(best), if (bestNull) null else bestSim))
  }

  /** Index of the sub-centroid nearest to `q[from, from + len)` by
    * exact-integer squared L2, ties to the lowest index. The
    * subvector's own norm is common to every candidate, so the
    * argmin runs over `cn2 − 2·dot`.
    */
  def nearestSub(cents: Array[Array[Long]], cn2: Array[Long],
                 q: Array[Long], from: Int, len: Int): Int = {
    var best = 0
    var bestD = 0L
    var j = 0
    while (j < cents.length) {
      val d = Math.subtractExact(cn2(j), Math.multiplyExact(2L, dot(q, from, len, cents(j))))
      if (j == 0 || d < bestD) { best = j; bestD = d }
      j += 1
    }
    best
  }

  /** A vector's m PQ codes: per subspace, the code of its nearest
    * sub-centroid.
    */
  def pqCodes(book: PqBook, v: ArrayData): ArrayData = {
    val q = quantize(v)
    val out = new Array[Int](book.m)
    var s = 0
    while (s < book.m) {
      val from = s * book.dsub
      out(s) = book.codes(s)(nearestSub(book.cents(s), book.cn2(s), q, from,
        subLen(q, from, book.dsub)))
      s += 1
    }
    ArrayData.toArrayData(out)
  }

  /** A query's ADC lookup table: the exact dot of each query
    * subvector with each sub-centroid, flattened at `book.off`.
    */
  def adcTable(book: PqBook, v: ArrayData): ArrayData = {
    val q = quantize(v)
    val out = new Array[Long](book.off(book.m))
    var s = 0
    while (s < book.m) {
      val from = s * book.dsub
      val len = subLen(q, from, book.dsub)
      var j = 0
      while (j < book.codes(s).length) {
        out(book.off(s) + j) = dot(q, from, len, book.cents(s)(j))
        j += 1
      }
      s += 1
    }
    ArrayData.toArrayData(out)
  }

  /** A candidate's ADC sums against one query's table: `adc_dot`, the
    * exact dot of the query with the candidate's reconstruction, and
    * `cn2_hat`, the reconstruction's squared norm. The codes must be
    * m codes of this codebook.
    */
  def adcSums(book: PqBook, codes: ArrayData, lut: ArrayData): InternalRow = {
    require(codes.numElements() == book.m,
      s"a codes array holds ${codes.numElements()} codes; the codebook has m=${book.m}")
    var adc = 0L
    var cn = 0L
    var s = 0
    while (s < book.m) {
      require(!codes.isNullAt(s), s"a codes array has no code for subspace $s")
      val code = codes.getInt(s)
      val j = java.util.Arrays.binarySearch(book.codes(s), code)
      require(j >= 0, s"code $code of subspace $s is not in the codebook")
      adc = Math.addExact(adc, lut.getLong(book.off(s) + j))
      cn = Math.addExact(cn, book.cn2(s)(j))
      s += 1
    }
    new GenericInternalRow(Array[Any](adc, cn))
  }
}

/** Shared shape of the codebook kernels: a driver-resident codebook
  * held as a constructor field (shipped with the plan, referenced by
  * generated code) and one [[CentroidMath]] call per row.
  */
private[functions] trait CodebookKernel extends Expression {
  protected def book: AnyRef
  protected def call(ctx: CodegenContext, fn: String, args: String*): String = {
    val b = ctx.addReferenceObj("book", book, book.getClass.getName)
    s"graft.functions.CentroidMath.$fn(${(b +: args).mkString(", ")})"
  }
  // the codebook prints as its size, not its contents
  override protected def stringArgs: Iterator[Any] = children.iterator
}

private[functions] object CodebookKernel {
  def floatArray(e: Expression, name: String): TypeCheckResult = e.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"$name expects array<float>, got $dt")
  }
}

/** The nearest cell of a vector, as `struct<id: long, sim: double>`
  * ([[CentroidMath.nearestCell]]).
  */
case class NearestCell(child: Expression, book: CellBook)
    extends UnaryExpression with CodebookKernel {
  override def checkInputDataTypes(): TypeCheckResult = CodebookKernel.floatArray(child, prettyName)
  override def dataType: DataType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("sim", DoubleType)))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_cell"
  override protected def nullSafeEval(v: Any): Any =
    CentroidMath.nearestCell(book, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = ${call(ctx, "nearestCell", v)};
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** A vector's m PQ codes, `array<int>` ([[CentroidMath.pqCodes]]). */
case class PqEncode(child: Expression, book: PqBook)
    extends UnaryExpression with CodebookKernel {
  override def checkInputDataTypes(): TypeCheckResult = CodebookKernel.floatArray(child, prettyName)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def nullSafeEval(v: Any): Any =
    CentroidMath.pqCodes(book, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => call(ctx, "pqCodes", v))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** A query's m·ksub ADC lookup table, `array<long>`
  * ([[CentroidMath.adcTable]]).
  */
case class AdcTable(child: Expression, book: PqBook)
    extends UnaryExpression with CodebookKernel {
  override def checkInputDataTypes(): TypeCheckResult = CodebookKernel.floatArray(child, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "adc_table"
  override protected def nullSafeEval(v: Any): Any =
    CentroidMath.adcTable(book, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => call(ctx, "adcTable", v))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** A (candidate codes, query table) pair's ADC sums,
  * `struct<adc_dot: long, cn2_hat: long>` ([[CentroidMath.adcSums]]).
  */
case class AdcScore(left: Expression, right: Expression, book: PqBook)
    extends BinaryExpression with CodebookKernel {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<int>, array<long>), got ($l, $r)")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("adc_dot", LongType, nullable = false),
    StructField("cn2_hat", LongType, nullable = false)))
  override def prettyName: String = "adc_score"
  override protected def nullSafeEval(codes: Any, lut: Any): Any =
    CentroidMath.adcSums(book, codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) => call(ctx, "adcSums", c, l))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Columns over the nearest-centroid kernels. */
object Centroids {
  private def col(e: Expression): Column = GraftShim.column(e)
  private def expr(c: Column): Expression = GraftShim.expression(c)

  def nearestCell(vec: Column, book: CellBook): Column =
    col(NearestCell(expr(vec), book))
  def pqEncode(vec: Column, book: PqBook): Column = col(PqEncode(expr(vec), book))
  def adcTable(vec: Column, book: PqBook): Column = col(AdcTable(expr(vec), book))
  def adcScore(codes: Column, lut: Column, book: PqBook): Column =
    col(AdcScore(expr(codes), expr(lut), book))
}
