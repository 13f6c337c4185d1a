package perfbench

import scala.math.BigDecimal.RoundingMode

/** BM25 top-k on the driver, computed the way `TextSearch.bm25` defines
  * it, as the oracle of the hybrid request: the same tokenizer, the
  * Robertson idf, each term's weight fixed-pointed at four digits before
  * the per-document sum, and ties broken by id. */
object Bm25 {
  private val K1 = 1.2
  private val B = 0.75
  private val Fp = 10000.0

  private def tokens(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+", -1).filter(_.nonEmpty)

  /** Top `k` of `(id, text)` documents for the query `terms`, as
    * `(id, score)` ordered by score, then id. */
  def topK(docs: Seq[(String, String)], terms: Seq[String], k: Int): Seq[(String, Double)] = {
    val toks = docs.map { case (id, t) => (id, tokens(t)) }
    val n = toks.size.toLong
    val avgdl = toks.map(_._2.length.toDouble).sum / n
    val query = terms.toSet
    val tfs = toks.map { case (id, ts) =>
      (id, ts.length, ts.filter(query).groupMapReduce(identity)(_ => 1L)(_ + _))
    }.filter(_._3.nonEmpty)
    val df = tfs.flatMap(_._3.keys).groupMapReduce(identity)(_ => 1L)(_ + _)
    tfs.map { case (id, dl, tf) =>
      val fp = tf.map { case (term, f) =>
        val idf = StrictMath.log(1.0 + ((n - df(term)).toDouble + 0.5) / (df(term).toDouble + 0.5))
        val w = idf * (f * (K1 + 1)) / (f + K1 * ((1 - B) + B * dl / avgdl))
        BigDecimal(w * Fp).setScale(0, RoundingMode.HALF_UP).toLong
      }.sum
      (id, fp / Fp)
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }
}
