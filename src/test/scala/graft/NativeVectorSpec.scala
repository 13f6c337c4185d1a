package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.embed.HashingEmbedder
import graft.expr.VectorExpressions
import graft.index.VectorIndex
import graft.ingest.DocxReader.Block
import graft.pipeline.Extract
import graft.streaming.StreamingIngest

/** Vectors stay native in the plan: a query vector is one `QueryVector`
  * leaf and write-time normalization one `Normalized` expression. Both
  * must give what the array-of-literals and higher-order-function forms
  * they replace gave, bit for bit, and the plan string of a search must
  * not grow with the query's dimension. */
class NativeVectorSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced query form: one literal per element. */
  private def literalVector(v: Array[Double]): Column = array(v.map(lit): _*)

  /** The replaced normalization: `transform` lambdas over the norm. */
  private def hofNormalized(a: Column): Column = {
    val n = VectorIndex.l2Norm(a)
    when(n > 0, transform(a, x => x.cast("double") / n))
      .otherwise(transform(a, x => x.cast("double")))
  }

  private def unit(q: Array[Double]): Array[Double] = {
    val n = math.sqrt(q.map(x => x * x).sum)
    if (n > 0) q.map(_ / n) else q
  }

  /** Rows as strings with every double shown by its raw bits. */
  private def bits(df: DataFrame): Seq[String] = df.collect().toSeq.map(bitsOf)
  private def bitsOf(r: Row): String = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d).toHexString
    case s: scala.collection.Seq[_] => s.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toHexString
      case other => String.valueOf(other)
    }.mkString("[", ",", "]")
    case other => String.valueOf(other)
  }.mkString("|")

  private def parquet(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft-native-vec").toString + "/t"
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** 60 seeded 16-d vectors as a float and a double parquet index; two
    * of the vectors are zero. */
  private def indexes: Seq[(String, DataFrame)] = {
    val rnd = new scala.util.Random(7)
    val v = (0L until 60L).map { i =>
      (i, if (i % 29 == 5) Array.fill(16)(0.0) else Array.fill(16)(rnd.nextGaussian()))
    }
    Seq(
      "float" -> parquet(v.map { case (i, e) => (i, e.map(_.toFloat)) }.toDF("id", "embedding")),
      "double" -> parquet(v.toDF("id", "embedding")))
  }

  private val queries: Seq[(String, Array[Double])] = {
    val rnd = new scala.util.Random(11)
    Seq(
      "dim 16" -> Array.fill(16)(rnd.nextGaussian()),
      "zero" -> Array.fill(16)(0.0),
      "shorter dim" -> Array.fill(10)(rnd.nextGaussian()),
      "longer dim" -> Array.fill(24)(rnd.nextGaussian()))
  }

  test("search, searchReranked and knn cosine equal the array-of-literals form bit for bit") {
    for ((kind, idx) <- indexes; (qName, q) <- queries) {
      val clue = s"$kind index, $qName query"
      val qn = unit(q)
      val nonZero = idx.filter(VectorIndex.l2Norm(col("embedding")) > 0)
      val normalized = VectorIndex.withNormalized(idx)

      // exact search, raw (norms on the fly; zero rows would divide by
      // zero in both forms) and pre-normalized (zero rows included)
      def oldSearch(index: DataFrame, normalizedInput: Boolean) = {
        val dot = VectorIndex.dot(col("embedding"), literalVector(qn))
        index.withColumn("score",
            if (normalizedInput) dot else dot / VectorIndex.l2Norm(col("embedding")))
          .filter(col("score") >= -1.0)
          .orderBy(col("score").desc, col("id"))
          .limit(7)
      }
      assert(bits(VectorIndex.search(nonZero, q, k = 7, threshold = -1.0)) ==
        bits(oldSearch(nonZero, normalizedInput = false)), clue)
      assert(bits(VectorIndex.search(normalized, q, k = 7, threshold = -1.0,
          normalizedInput = true)) ==
        bits(oldSearch(normalized, normalizedInput = true)), clue)

      // two-tier int8 → float re-rank
      val quantized = VectorIndex.withQuantized(normalized)
      val oldReranked = VectorIndex.searchQuantized(quantized, q, 5 * 4, threshold = -1.0)
        .select(col("id"), col("embedding"))
        .withColumn("score", round(VectorIndex.dot(col("embedding"), literalVector(qn)), 4))
        .filter(col("score") >= -1.0)
        .select("id", "score")
        .orderBy(col("score").desc, col("id"))
        .limit(5)
      assert(bits(VectorIndex.searchReranked(quantized, q, k = 5, threshold = -1.0)) ==
        bits(oldReranked), clue)

      // the registered knn_top5 shape: rounded cosine against the raw query
      def knn(qCol: Column) = idx
        .withColumn("score", round(VectorIndex.cosine(col("embedding"), qCol), 4))
        .filter(col("score") >= -1.0)
        .select("id", "score")
        .orderBy(col("score").desc, col("id"))
        .limit(5)
      assert(bits(knn(VectorExpressions.queryVector(q))) == bits(knn(literalVector(q))), clue)
    }
  }

  test("a query vector is one node: the plan of search does not grow with its dimension") {
    def plan(dim: Int): String = {
      val index = spark.range(50).select(col("id"),
        expr(s"transform(sequence(1, $dim), i -> cast(sin(id * i) as float))").as("embedding"))
      val q = Array.tabulate(dim)(i => math.cos(i + 1.0))
      VectorIndex.search(index, q).queryExecution.executedPlan.toString
    }
    val (small, large) = (plan(8), plan(1024))
    assert(large.contains("query[1024]"), large)
    assert(math.abs(large.length - small.length) < 100,
      s"plan length ${small.length} at dim 8 vs ${large.length} at dim 1024")
  }

  test("Normalized equals the transform form bit for bit, nulls, zero and NaN included") {
    val rows: Seq[(Int, Option[Seq[Option[Double]]])] = Seq(
      1 -> Some(Seq(Some(3.0), Some(-4.0), Some(1e-3))),
      2 -> None,
      3 -> Some(Seq(Some(1.5), None, Some(-2.0))),
      4 -> Some(Seq(Some(0.0), Some(-0.0), Some(0.0))),
      5 -> Some(Seq(Some(Double.NaN), Some(1.0), Some(2.0))),
      6 -> Some(Seq(Some(Double.PositiveInfinity), Some(1.0))),
      7 -> Some(Seq(None, None)),
      8 -> Some(Seq.empty),
      9 -> Some(Seq(Some(1e300), Some(1e300))))
    val doubles = rows.toDF("i", "e")
    val floats = doubles.select(col("i"), col("e").cast("array<float>").as("e"))
    for ((kind, df) <- Seq("double" -> doubles, "float" -> floats);
         (source, in) <- Seq("local" -> df, "parquet" -> parquet(df))) {
      val native = in.select(col("i"), VectorExpressions.normalized(col("e")).as("n"))
      val hof = in.select(col("i"), hofNormalized(col("e")).as("n"))
      assert(native.schema == hof.schema, s"$kind/$source")
      assert(bits(native.orderBy("i")) == bits(hof.orderBy("i")), s"$kind/$source")
    }
  }

  test("dot, l2 norm and cosine skip null elements, whatever the plan reads them from") {
    // a null element adds nothing, so each row scores as its null-as-zero
    // twin. The rows with nulls follow one full 4096-row reader batch in a
    // single parquet file, so their null slots sit where the vectorized
    // reader's reused column vector still holds the first batch's values.
    val filler = (1000 until 1000 + 4096).map(i =>
      (i, Seq(Some(1.5), Some(7.0), Some(-2.0)), Seq(Some(0.5), Some(1.0), Some(3.0))))
    val rows: Seq[(Int, Seq[Option[Double]], Seq[Option[Double]])] = filler ++ Seq(
      (1, Seq(Some(1.5), None, Some(-2.0)), Seq(Some(1.0), Some(7.0), Some(1.0))),
      (2, Seq(Some(2.0), Some(4.0), None), Seq(None, Some(0.5), Some(3.0))),
      (3, Seq(None, None), Seq(Some(1.0), Some(1.0))),
      (4, Seq(Some(3.0), Some(4.0)), Seq(Some(4.0), Some(-3.0))))
    val want = rows.map { case (i, a, b) =>
      val (x, y) = (a.map(_.getOrElse(0.0)), b.map(_.getOrElse(0.0)))
      val dot = x.zip(y).map { case (p, q) => p * q }.sum
      val (nx, ny) = (math.sqrt(x.map(v => v * v).sum), math.sqrt(y.map(v => v * v).sum))
      i -> (dot, nx, if (nx * ny == 0.0) 0.0 else dot / (nx * ny))
    }.toMap
    assert(want(1)._2 == 2.5)
    val doubles = rows.toDF("i", "a", "b")
    val floats = doubles.select(col("i"),
      col("a").cast("array<float>").as("a"), col("b").cast("array<float>").as("b"))
    for ((kind, df) <- Seq("double" -> doubles, "float" -> floats);
         (source, in) <- Seq("local" -> df, "parquet" -> parquet(df.coalesce(1)))) {
      val got = in.select(col("i"),
        VectorIndex.dot(col("a"), col("b")), VectorIndex.l2Norm(col("a")),
        VectorIndex.cosine(col("a"), col("b")))
        .as[(Int, Double, Double, Double)].collect()
      assert(got.length == rows.size)
      got.foreach { case (i, dot, norm, cos) =>
        val (wd, wn, wc) = want(i)
        assert(math.abs(dot - wd) < 1e-12 && math.abs(norm - wn) < 1e-12 &&
          math.abs(cos - wc) < 1e-12,
          s"$kind/$source row $i: got ($dot, $norm, $cos) want ($wd, $wn, $wc)")
      }
    }
  }

  test("Extract.ingest and StreamingIngest keep their output schemas") {
    val embedding = StructField("embedding", ArrayType(DoubleType, containsNull = true), nullable = true)
    val blocks = Seq(
      Block("m.docx", 0L, "para", "Heading1", "Installation", Seq.empty, Seq.empty),
      Block("m.docx", 1L, "para", "Normal", "Install the mobile client and sign in.",
        Seq.empty, Seq.empty)).toDF()
    val ingested = Extract.ingest(blocks, embedder = HashingEmbedder(8))
    assert(ingested.schema == StructType(Seq(
      StructField("id", StringType, nullable = true),
      embedding,
      StructField("text", StringType, nullable = true),
      StructField("paragraph_name", StringType, nullable = true),
      StructField("document_name", StringType, nullable = true),
      StructField("document_version", StringType, nullable = false))))
    assert(ingested.count() == 1)

    val docs = Seq(("d1", "some text here")).toDF("doc_id", "text")
    val streamed = StreamingIngest.ingestBatch(docs, HashingEmbedder(8))
    assert(streamed.schema == StructType(Seq(
      StructField("id", StringType, nullable = true),
      StructField("doc_id", StringType, nullable = true),
      StructField("chunk_idx", IntegerType, nullable = false),
      StructField("chunk_text", StringType, nullable = true),
      embedding)))

    val embedded = graft.embed.Embedder.embedColumn(docs, "text", HashingEmbedder(8))
    assert(embedded.schema("embedding") ==
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true))
  }

  test("embedColumn equals the embedder row by row; a null text embeds as the zero vector") {
    val texts = Seq[(Long, String)]((1L, "the mobile client"), (2L, null), (3L, ""),
      (4L, "network configuration of the server component"))
    val e = HashingEmbedder(32)
    for ((source, in) <- Seq("local" -> texts.toDF("id", "text"),
                             "parquet" -> parquet(texts.toDF("id", "text")))) {
      val got = graft.embed.Embedder.embedColumn(in, "text", e)
        .select("id", "embedding").as[(Long, Array[Float])].collect().toMap
      texts.foreach { case (id, t) =>
        assert(got(id).toSeq == e.padTruncate(e.embed(t)).toSeq, s"$source row $id")
      }
      assert(got(2L).toSeq == Seq.fill(32)(0f))
    }
  }
}
