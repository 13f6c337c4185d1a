package graft.embed

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}
import org.apache.spark.unsafe.types.UTF8String

/** O-EMB — the embedding operator contract from the reference
  * (`scripts/services/embedder_service.py:4-9`): text → `float[dim]`,
  * padding with 0.0 when shorter and truncating when longer.
  *
  * The reference calls a live Ollama model per chunk (N+1 HTTP round
  * trips). That is unusable offline and at 100 TB, so the default
  * implementation is a **deterministic hashing embedder**: character
  * n-gram + word features hashed into `dim` signed buckets (feature
  * hashing), then L2-normalized. Same text → same vector, on any
  * executor, with no service dependency. The trait keeps a seam for a
  * real model-backed implementation.
  */
trait Embedder extends Serializable {
  def dim: Int
  def embed(text: String): Array[Float]

  /** Pad with 0.0f / truncate to exactly `dim` — the reference's
    * `make_vector` post-processing (`embedder_service.py:7-9`). */
  final def padTruncate(v: Array[Float]): Array[Float] = {
    if (v.length == dim) v
    else if (v.length > dim) java.util.Arrays.copyOf(v, dim)
    else java.util.Arrays.copyOf(v, dim) // copyOf zero-fills the tail
  }
}

/** Deterministic feature-hashing embedder: char 3-grams and whitespace
  * tokens, MurmurHash3 (stable across JVMs) into `dim` buckets with a
  * sign bit (reduces hash-collision bias), L2-normalized. */
final case class HashingEmbedder(dim: Int = 1024) extends Embedder {
  private val seed = 42

  def embed(text: String): Array[Float] = {
    val acc = new Array[Float](dim)
    if (text != null && text.nonEmpty) {
      // Locale.ROOT: locale-default lowercasing breaks cross-executor
      // determinism (e.g. tr-TR dotless-ı), same convention as Dedup.
      val s = text.toLowerCase(java.util.Locale.ROOT)
      // char 3-grams
      var i = 0
      while (i + 3 <= s.length) {
        add(acc, MurmurHash3.stringHash(s.substring(i, i + 3), seed))
        i += 1
      }
      // whitespace tokens
      for (tok <- s.split("\\s+") if tok.nonEmpty)
        add(acc, MurmurHash3.stringHash(tok, seed ^ 0x9e3779b9))
      l2NormalizeInPlace(acc)
    }
    acc
  }

  @inline private def add(acc: Array[Float], h: Int): Unit = {
    val bucket = math.floorMod(h >>> 1, dim)
    val sign = if ((h & 1) == 0) 1f else -1f
    acc(bucket) += sign
  }

  private def l2NormalizeInPlace(v: Array[Float]): Unit = {
    var ss = 0.0
    var i = 0
    while (i < v.length) { ss += v(i).toDouble * v(i); i += 1 }
    if (ss > 0) {
      val inv = 1.0 / math.sqrt(ss)
      i = 0
      while (i < v.length) { v(i) = (v(i) * inv).toFloat; i += 1 }
    }
  }
}

object Embedder {
  /** Attach an `embedding ARRAY<FLOAT>` column computed from `textCol`
    * by one codegen'd [[EmbedText]] expression. Preserves all columns. */
  def embedColumn(
      df: DataFrame,
      textCol: String,
      embedder: Embedder = HashingEmbedder(),
      outCol: String = "embedding"): DataFrame =
    df.withColumn(outCol, Bridge.toColumn(EmbedText(Bridge.toExpr(col(textCol)), embedder)))
}

/** `embedder` applied to a string column: `ARRAY<FLOAT>` of exactly
  * `embedder.dim`, never null (a null text embeds as the embedder
  * embeds null — the zero vector for [[HashingEmbedder]]). The field is
  * still declared nullable, the schema the index has always had. Each
  * task deserializes its own copy of the expression and so of the
  * embedder: one [[HttpEmbedder]] client per task. */
case class EmbedText(child: Expression, embedder: Embedder) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any =
    EmbedText.embedOf(embedder, child.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("embedder", embedder, classOf[Embedder].getName)
    val text = child.genCode(ctx)
    ev.copy(code = code"""
      ${text.code}
      boolean ${ev.isNull} = false;
      ${classOf[ArrayData].getName} ${ev.value} =
        graft.embed.EmbedText.embedOf($ref, ${text.isNull} ? null : ${text.value});""")
  }
  override def prettyName: String = "embed"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object EmbedText {
  /** Called from generated code: `embedder` over one text (a null text
    * is passed on as null), padded/truncated to `dim`. Not on `object
    * Embedder`: its static forwarders land on the `Embedder` interface,
    * and Janino cannot call static interface methods. */
  def embedOf(embedder: Embedder, text: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      embedder.padTruncate(embedder.embed(if (text == null) null else text.toString)))
}
