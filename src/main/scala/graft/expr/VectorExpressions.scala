package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the vector hot path (O-KNN, dedup).
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`,
  * `transform(x / n)`) is interpreted per element — lambda invocations
  * and boxing per float. These expressions evaluate over `ArrayData`
  * primitives and participate in whole-stage codegen (`doGenCode` emits
  * a call into a tight static scalar loop), which is what a 100 TB scan
  * needs. Same arithmetic as the HOF form: sequential left-to-right
  * accumulation in double. Inputs: `ARRAY<FLOAT>` or `ARRAY<DOUBLE>`
  * (mixed allowed). A driver-built constant vector enters a plan as one
  * [[QueryVector]] leaf, never as an array of literals.
  */
object VectorExpressions {

  private def isFloat(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @inline private def getD(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** An element that is null adds nothing, as in [[normalizedOf]]: a
    * columnar array leaves an undefined value in a null slot, so the
    * kernels below never read one. */
  @inline private def getOr0(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (a.isNullAt(i)) 0.0 else getD(a, isFloat, i)

  /** Called from generated code. */
  def dotOf(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += getOr0(a, aFloat, i) * getOr0(b, bFloat, i); i += 1 }
    s
  }

  /** Called from generated code. */
  def l2NormOf(a: ArrayData, isFloat: Boolean): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val x = getOr0(a, isFloat, i); s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** Called from generated code: cosine = dot / (||a|| * ||b||), 0 when
    * either norm is zero. */
  def cosineOf(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = getOr0(a, aFloat, i)
      val y = getOr0(b, bFloat, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Sum of element-wise products of two numeric arrays (as double). */
  case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any =
      dotOf(l.asInstanceOf[ArrayData], isFloat(left.dataType),
        r.asInstanceOf[ArrayData], isFloat(right.dataType))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val af = isFloat(left.dataType)
      val bf = isFloat(right.dataType)
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.expr.VectorExpressions.dotOf($a, $af, $b, $bf)")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Euclidean (L2) norm of a numeric array. */
  case class L2Norm(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(v: Any): Any =
      l2NormOf(v.asInstanceOf[ArrayData], isFloat(child.dataType))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val f = isFloat(child.dataType)
      defineCodeGen(ctx, ev, a => s"graft.expr.VectorExpressions.l2NormOf($a, $f)")
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Cosine similarity of two numeric arrays. */
  case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any =
      cosineOf(l.asInstanceOf[ArrayData], isFloat(left.dataType),
        r.asInstanceOf[ArrayData], isFloat(right.dataType))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val af = isFloat(left.dataType)
      val bf = isFloat(right.dataType)
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.expr.VectorExpressions.cosineOf($a, $af, $b, $bf)")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Called from generated code: the unit-normalized double form of a
    * numeric array, bit-identical to the HOF form
    * `when(n > 0, transform(a, x => double(x) / n)).otherwise(transform(a, double))`
    * with `n = l2Norm(a)`: null elements stay null and add nothing to
    * the norm (a columnar array leaves an undefined value in a null
    * slot, so they are skipped, not read), a zero vector keeps its
    * double cast, and a NaN norm divides, because Spark orders NaN
    * above every number. */
  def normalizedOf(a: ArrayData, isFloat: Boolean): ArrayData = {
    val len = a.numElements()
    var hasNull = false
    var s = 0.0
    var i = 0
    while (i < len) {
      if (a.isNullAt(i)) hasNull = true
      else { val x = getD(a, isFloat, i); s += x * x }
      i += 1
    }
    val n = math.sqrt(s)
    val divide = n > 0.0 || java.lang.Double.isNaN(n)
    @inline def at(i: Int): Double = if (divide) getD(a, isFloat, i) / n else getD(a, isFloat, i)
    if (hasNull) {
      val out = new Array[Any](len)
      i = 0
      while (i < len) { if (!a.isNullAt(i)) out(i) = at(i); i += 1 }
      new GenericArrayData(out)
    } else {
      val out = new Array[Double](len)
      i = 0
      while (i < len) { out(i) = at(i); i += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** Unit-length double form of a numeric array (zero vectors stay
    * zero) — the write-time normalization of the vector index. The
    * element type is nullable, as the HOF form's is. */
  case class Normalized(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
    override def nullSafeEval(v: Any): Any =
      normalizedOf(v.asInstanceOf[ArrayData], isFloat(child.dataType))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val f = isFloat(child.dataType)
      defineCodeGen(ctx, ev, a => s"graft.expr.VectorExpressions.normalizedOf($a, $f)")
    }
    override def prettyName: String = "normalized"
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** A driver-built constant vector (a search query, a hyperplane) as
    * ONE plan node. `array(v.map(lit): _*)` is `v.length` literal nodes
    * that every eager DataFrame step re-analyzes, and ConstantFolding
    * turns them into one array literal printed in full into every plan
    * string Spark renders per query. This leaf is not foldable, so it
    * never becomes that literal; codegen passes it as one reference to a
    * primitive-backed array; it prints as `query[<dim>]`. Equality is by
    * value. */
  case class QueryVector(values: Array[Double]) extends LeafExpression {
    @transient private lazy val data: ArrayData = UnsafeArrayData.fromPrimitiveArray(values)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = false
    override def foldable: Boolean = false
    override def eval(input: InternalRow): Any = data
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("query", data, classOf[ArrayData].getName)
      ExprCode.forNonNullValue(JavaCode.global(ref, dataType))
    }
    override def toString: String = s"query[${values.length}]"
    override def sql: String = toString
    override def equals(o: Any): Boolean = o match {
      case q: QueryVector => java.util.Arrays.equals(values, q.values)
      case _ => false
    }
    override def hashCode(): Int = java.util.Arrays.hashCode(values)
  }

  // ------------------------------------------------- int8 quantization

  /** Called from generated code: max |x| of a numeric array (the
    * symmetric int8 quantization scale). */
  def maxAbsOf(a: ArrayData, isFloat: Boolean): Double = {
    var m = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val x = math.abs(getD(a, isFloat, i)); if (x > m) m = x; i += 1 }
    m
  }

  /** Called from generated code: symmetric int8 quantization —
    * `round(x / scale * 127)` per element (zero vector → zero bytes). */
  def quantizeOf(a: ArrayData, isFloat: Boolean, scale: Double): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    if (scale != 0.0) {
      var i = 0
      while (i < n) {
        out(i) = math.round(getD(a, isFloat, i) / scale * 127.0).toByte
        i += 1
      }
    }
    out
  }

  /** Called from generated code: integer dot product of two signed-int8
    * vectors — the quantized-index scoring kernel (pure int ALU work,
    * 4× less memory traffic than the float path). */
  def byteDotOf(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var s = 0L
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Max |x| of a numeric array. */
  case class MaxAbs(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(v: Any): Any =
      maxAbsOf(v.asInstanceOf[ArrayData], isFloat(child.dataType))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val f = isFloat(child.dataType)
      defineCodeGen(ctx, ev, a => s"graft.expr.VectorExpressions.maxAbsOf($a, $f)")
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Symmetric int8 quantization of a numeric array at a given scale. */
  case class QuantizeInt8(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.BinaryType
    override def nullSafeEval(v: Any, s: Any): Any =
      quantizeOf(v.asInstanceOf[ArrayData], isFloat(left.dataType),
        s.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val f = isFloat(left.dataType)
      defineCodeGen(ctx, ev, (a, s) =>
        s"graft.expr.VectorExpressions.quantizeOf($a, $f, $s)")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  // ------------------------------------------------ product quantization

  /** Called from generated code: asymmetric-distance (ADC) scoring of a
    * PQ code against a per-query lookup table. `table` is the flat
    * m×ksub array of `dot(querySub_i, codebook_i(j))` built once per
    * query on the driver; the per-row work is `m` array lookups — no
    * float multiply at all, and the scanned payload is m bytes/vector
    * (64-d float = 256 B → 8 B at m=8). */
  def adcOf(code: Array[Byte], table: ArrayData, ksub: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < code.length) {
      s += table.getDouble(i * ksub + (code(i) & 0xFF))
      i += 1
    }
    s
  }

  /** ADC lookup-sum of a PQ code (BINARY) against a flat m×ksub double
    * table; `ksub` is the per-subspace codebook size (row stride). */
  case class PqAdc(left: Expression, right: Expression, ksub: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any =
      adcOf(l.asInstanceOf[Array[Byte]], r.asInstanceOf[ArrayData], ksub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.expr.VectorExpressions.adcOf($a, $b, $ksub)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Integer dot product of two int8-quantized vectors (BINARY). */
  case class ByteDotProduct(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def nullSafeEval(l: Any, r: Any): Any =
      byteDotOf(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.expr.VectorExpressions.byteDotOf($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  // ----------------------------------------------------- Column wrappers

  private def e(c: Column): Expression = Bridge.toExpr(c)

  def dot(a: Column, b: Column): Column = Bridge.toColumn(DotProduct(e(a), e(b)))
  def l2Norm(a: Column): Column = Bridge.toColumn(L2Norm(e(a)))
  def cosine(a: Column, b: Column): Column = Bridge.toColumn(CosineSimilarity(e(a), e(b)))
  def normalized(a: Column): Column = Bridge.toColumn(Normalized(e(a)))
  def queryVector(v: Array[Double]): Column = Bridge.toColumn(QueryVector(v))
  def maxAbs(a: Column): Column = Bridge.toColumn(MaxAbs(e(a)))
  def quantizeInt8(a: Column, scale: Column): Column =
    Bridge.toColumn(QuantizeInt8(e(a), e(scale)))
  def byteDot(a: Column, b: Column): Column =
    Bridge.toColumn(ByteDotProduct(e(a), e(b)))
  def pqAdc(code: Column, table: Column, ksub: Int): Column =
    Bridge.toColumn(PqAdc(e(code), e(table), ksub))

  /** SQL surface: `dot_product`, `l2_norm`, `cosine_similarity`.
    * SQL literal arrays arrive as ARRAY<DECIMAL>; a cast to
    * ARRAY<DOUBLE> normalizes every numeric input (no-op for float
    * arrays' getFloat path is preserved by the cast being skipped when
    * already float/double — see `castArr`). One builder list feeds both
    * session registration ([[register]]) and config-time injection
    * ([[graft.GraftExtensions]]). */
  val functions: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    def castArr(e: Expression): Expression = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => e
      case _ => Cast(e, ArrayType(DoubleType))
    }
    Seq(
      "dot_product" -> (es => DotProduct(castArr(es(0)), castArr(es(1)))),
      "l2_norm" -> (es => L2Norm(castArr(es.head))),
      "cosine_similarity" -> (es => CosineSimilarity(castArr(es(0)), castArr(es(1)))))
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftFunctions.registerTemp(spark, functions)
}
