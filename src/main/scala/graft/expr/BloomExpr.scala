package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Native Bloom-filter aggregate + membership probe over Spark's public
  * `org.apache.spark.util.sketch.BloomFilter`.
  *
  * `bloom_agg(hash, expectedItems, fpp)` folds a LONG hash column into
  * one Bloom sketch: map-side partial sketches OR-merge up the
  * aggregation tree, so the only thing that ever crosses the wire is
  * the (fixed-size) bit array — never the hashed set itself. The
  * resulting bits are insertion-order-independent (each item sets the
  * same k positions; merge is bitwise OR), so the serialized sketch is
  * deterministic for a given input set — byte-identical under any
  * partitioning, which the spec asserts.
  *
  * `bloom_might_contain(sketch, hash)` probes a serialized sketch.
  * The deserialized filter is cached per expression instance (the
  * sketch operand is foldable in every intended use — a driver-built
  * sketch embedded as a literal), so per-row work is just the k bit
  * probes. No false negatives, ≤ fpp false positives.
  *
  * Spark's own `bloom_filter_agg`/`might_contain` expressions are
  * internal (not in the function registry — used only by injected
  * runtime filters), hence this first-class public pair.
  *
  * 100 TB role: train→eval decontamination without a shuffle on the
  * probe side — see `Dedup.contaminationBloom`.
  */
case class BloomAgg(
    child: Expression,
    nExpr: Expression,
    fppExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomFilter] {

  private def literalNum(e: Expression, what: String): Double = e.eval() match {
    case null => throw new IllegalArgumentException(s"bloom_agg: $what must be a non-null literal")
    case v: Number => v.doubleValue()
    case v: Decimal => v.toDouble // SQL decimal literals (e.g. `0.001`)
    case other => throw new IllegalArgumentException(s"bloom_agg: bad $what literal $other")
  }
  private lazy val expected: Long = {
    val v = literalNum(nExpr, "expectedItems").toLong
    require(v > 0, s"bloom_agg: expectedItems must be positive, got $v")
    v
  }
  private lazy val fpp: Double = {
    val v = literalNum(fppExpr, "fpp")
    require(v > 0 && v < 1, s"bloom_agg: fpp must be in (0,1), got $v")
    v
  }

  override def children: Seq[Expression] = Seq(child, nExpr, fppExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), nExpr = newChildren(1), fppExpr = newChildren(2))

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): BloomFilter = BloomFilter.create(expected, fpp)

  override def update(buf: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buf.putLong(v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: BloomFilter, b2: BloomFilter): BloomFilter = {
    b1.mergeInPlace(b2)
    b1
  }

  override def eval(buf: BloomFilter): Any = serialize(buf)

  override def serialize(buf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    buf.writeTo(out)
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "bloom_agg"
}

/** Membership probe against a serialized Bloom sketch. The filter
  * deserializes once per (task, expression instance) — `@transient
  * lazy` — NOT per row; with a literal sketch that is one readFrom per
  * task. Returns false for null hashes (a null can't have been added). */
case class BloomMightContain(sketchExpr: Expression, hashExpr: Expression)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(sketchExpr, hashExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(sketchExpr = newChildren(0), hashExpr = newChildren(1))

  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def foldable: Boolean = false

  @transient private lazy val cachedFilter: BloomFilter = {
    val bytes = sketchExpr.eval() match {
      case b: Array[Byte] => b
      case null => throw new IllegalArgumentException(
        "bloom_might_contain: sketch must be a non-null binary literal")
      case other => throw new IllegalArgumentException(
        s"bloom_might_contain: bad sketch operand ${other.getClass}")
    }
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  override def eval(input: InternalRow): Any = {
    val h = hashExpr.eval(input)
    if (h == null) false else cachedFilter.mightContainLong(h.asInstanceOf[Long])
  }

  override def prettyName: String = "bloom_might_contain"

  /** A literal sketch prints as `sketch[<n> bytes]`, not as hex: a
    * megabyte sketch would otherwise be rendered into every plan
    * string of every query that probes it. */
  private def sketchString(full: Expression => String): String = sketchExpr match {
    case Literal(b: Array[Byte], BinaryType) => s"sketch[${b.length} bytes]"
    case other => full(other)
  }
  override def toString: String = s"$prettyName(${sketchString(_.toString)}, $hashExpr)"
  override def sql: String = s"$prettyName(${sketchString(_.sql)}, ${hashExpr.sql})"
}

object BloomExpr {

  /** Column-API aggregate: one serialized Bloom sketch of a LONG hash
    * column. */
  def bloomAgg(hash: Column, expectedItems: Long, fpp: Double): Column =
    Bridge.toColumn(
      BloomAgg(Bridge.toExpr(hash), Literal(expectedItems), Literal(fpp))
        .toAggregateExpression())

  /** Column-API probe: `bloomMightContain(sketchBytes, $"h")`. */
  def bloomMightContain(sketch: Array[Byte], hash: Column): Column =
    Bridge.toColumn(BloomMightContain(Literal(sketch), Bridge.toExpr(hash)))

  /** Register `bloom_agg(h, n, fpp)` and `bloom_might_contain(bytes, h)`
    * in the session function registry (same pattern as `top_k`). */
  val functions: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    def castTo(e: Expression, dt: DataType): Expression =
      if (e.dataType == dt) e else Cast(e, dt)
    Seq(
      "bloom_agg" -> (es => {
        require(es.length == 3, s"bloom_agg expects 3 arguments, got ${es.length}")
        BloomAgg(castTo(es(0), LongType), es(1), es(2)).toAggregateExpression()
      }),
      "bloom_might_contain" -> (es => {
        require(es.length == 2, s"bloom_might_contain expects 2 arguments, got ${es.length}")
        BloomMightContain(es(0), castTo(es(1), LongType))
      }))
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftFunctions.registerTemp(spark, functions)
}
