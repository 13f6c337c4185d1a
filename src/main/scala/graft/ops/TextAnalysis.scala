package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star
  * surface): language identification, quality scoring, token counting,
  * document fingerprinting. Column expressions where those codegen;
  * typed JIT'd UDFs where the expression form would run interpreted
  * higher-order lambdas per element (langId, the trigram slides — the
  * measured ~10× trap documented at [[Dedup.minhashSignature]]).
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic
    * language identifier. Public common function words. */
  val StopwordSets: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "una", "los", "por"),
    "fr" -> Seq("le", "la", "de", "et", "que", "en", "un", "une", "les", "pour"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "ist", "ein", "eine", "von"),
    "ru" -> Seq("и", "в", "не", "на", "что", "с", "по", "это", "как", "из"))

  private def tokens(c: Column): Column =
    filter(split(lower(c), "[^\\p{L}\\p{N}']+"), t => length(t) > 0)

  /** Result row of [[langId]] — a named case class so the UDF's struct
    * carries the (lang, score) field names callers `getField` on.
    * PUBLIC deliberately: the encoder's generated serializer invokes
    * `.lang()`/`.score()` from Janino-compiled code, which cannot
    * access a private class — Spark then throws a CompileException and
    * silently falls back to INTERPRETED serialization on every
    * execution that touches the struct (an error + stack in every
    * bench/verify log, plus the interpreter tax). */
  case class LangScore(lang: String, score: Double)

  /** Per-language stopword hit count; predicted language = argmax (ties
    * break to the lexicographically larger code, matching the previous
    * `greatest(struct(score, lang))` form). Returns a struct
    * `(lang STRING, score DOUBLE)` — score is the hit ratio of the
    * winning language's stopwords over total tokens.
    *
    * Typed UDF with one JIT'd tokenize + one hash probe per token — the
    * pure-expression form re-evaluated the interpreted
    * `filter(split(lower(text)))` chain once PER LANGUAGE plus once for
    * the total (≈6 interpreted tokenizations and ~50 `isin` string
    * compares per document; measured as one 11 s single-core task at
    * sf0.1 — the same interpreted-HOF trap as Dedup.minhashSignature).
    * Tokenization matches [[tokens]] exactly: Spark's own
    * `UTF8String.toLowerCase`, the same split regex, empties dropped. */
  def langId(c: Column): Column = {
    val byLang = StopwordSets.toSeq.sortBy(_._1)
      .map { case (l, ws) => (l, ws.toSet) }
    val f = udf { (text: String) =>
      if (text == null) null
      else {
        // identical lowercase to the expression form (Lower delegates
        // to UTF8String.toLowerCase), then the same split + non-empty
        val lowered = org.apache.spark.unsafe.types.UTF8String
          .fromString(text).toLowerCase.toString
        val toks = lowered.split("[^\\p{L}\\p{N}']+").filter(_.nonEmpty)
        val total = math.max(toks.length, 1).toDouble
        var bestLang: String = null
        var bestScore = -1.0
        byLang.foreach { case (lang, words) =>
          var hits = 0
          var i = 0
          while (i < toks.length) {
            if (words.contains(toks(i))) hits += 1
            i += 1
          }
          val score = hits / total
          // strictly >=: later (lexicographically larger) lang wins
          // ties, as greatest(struct(score, lang)) did
          if (score >= bestScore) { bestScore = score; bestLang = lang }
        }
        LangScore(bestLang, bestScore)
      }
    }
    f(c)
  }

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: word characters grouped into runs of ≤4 chars
    * plus standalone punctuation — a deterministic proxy for a BPE
    * tokenizer's token count (no vocab files in this environment). */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\p{L}{1,4}|\\p{N}{1,3}|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** Quality features: struct of
    * `(n_chars, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
    * uniq_ratio)`. */
  def qualityFeatures(c: Column, stopLang: String = "en"): Column = {
    val toks = tokens(c)
    val nToks = greatest(size(toks), lit(1)).cast("double")
    val stop = StopwordSets(stopLang)
    struct(
      length(c).as("n_chars"),
      size(toks).as("n_tokens"),
      (aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") / nToks)
        .as("avg_token_len"),
      (length(regexp_replace(c, "[\\p{L}\\p{N}\\s]", "")).cast("double") /
        greatest(length(c), lit(1)).cast("double")).as("punct_ratio"),
      (size(filter(toks, t => t.isin(stop.map(lit): _*))).cast("double") / nToks)
        .as("stopword_ratio"),
      (size(array_distinct(toks)).cast("double") / nToks).as("uniq_ratio"))
  }

  /** Scalar quality score in [0,1]: combines length sanity, lexical
    * diversity and stopword presence — the standard cheap pre-filter
    * before expensive model-based scoring. */
  def qualityScore(c: Column): Column = {
    val f = qualityFeatures(c)
    val lenOk = when(f.getField("n_tokens").between(5, 100000), 1.0).otherwise(0.3)
    val diversity = least(f.getField("uniq_ratio") * 2.0, lit(1.0))
    val stopOk = least(f.getField("stopword_ratio") * 5.0, lit(1.0))
    round((lenOk * 0.4 + diversity * 0.3 + stopOk * 0.3), 4)
  }

  /** Repetition signals per document (the Gopher/C4 quality-filter
    * family): `top_trigram_frac` — the share of the document's word
    * trigrams taken by its single most frequent trigram (boilerplate
    * and template spam score high), and `uniq_trigram_ratio` — distinct
    * trigrams over total (low = loops/copy-paste). Docs with fewer
    * than 3 tokens produce no row.
    *
    * Relational shape: explode trigrams → two hash aggregations keyed
    * by `idCol` — parallelism scales with document count, no
    * driver-side text processing. Output is rounded to 4 dp for
    * oracle-stable comparison (`doc_repetition`).
    *
    * `tokensOf` lets the caller pin the tokenizer to whatever its
    * oracle/consumer uses (the registered query passes the ASCII
    * `[^a-z0-9]+` splitter to match its DuckDB twin exactly; the
    * default is this module's Unicode-word tokenizer). */
  def repetitionProfile(
      df: org.apache.spark.sql.DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      tokensOf: Column => Column = tokens): org.apache.spark.sql.DataFrame = {
    val t = tokensOf(col(textCol))
    // JIT'd sliding-window UDF, not transform/element_at — the
    // interpreted-HOF form costs ~3 lambda dispatches per token and
    // measured ~10× slower at sf0.1 (the same trap as minhash; see
    // Dedup.minhashSignature). Short docs yield an empty list and
    // explode drops them.
    val triList = udf { (toks: Seq[String]) =>
      if (toks == null || toks.length < 3) Seq.empty[String]
      else toks.iterator.sliding(3).withPartial(false)
        .map(_.mkString(" ")).toSeq
    }
    val tri = df.select(col(idCol), explode(triList(t)).as("tri"))
    tri.groupBy(col(idCol), col("tri")).agg(count(lit(1)).as("n"))
      .groupBy(col(idCol)).agg(
        round(max(col("n")).cast("double") / sum(col("n")).cast("double"), 4)
          .as("top_trigram_frac"),
        round(count(lit(1)).cast("double") / sum(col("n")).cast("double"), 4)
          .as("uniq_trigram_ratio"))
  }

  /** Content fingerprint: md5 of the whitespace-normalized lowercase
    * text — stable across reformatting. */
  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", §A1.1 — public heuristics): word
    * count bounds, mean-word-length band, minimum alphabetic-word
    * fraction, minimum stopword hits. Returns a struct of the measured
    * features plus the `passes` conjunction. All integer counts with
    * one final division each — exact, order-independent arithmetic, so
    * the rule decisions replay bit-identically in a SQL oracle.
    *
    * 100 TB shape: pure codegen'd Column expressions over one scan,
    * embarrassingly parallel; compose with [[repetitionProfile]] (the
    * repetition rules of the same paper) for the full filter. */
  def gopherRules(
      c: Column,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2): Column = {
    val toks = tokens(c)
    val nW = size(toks)
    val meanLen = aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") /
      greatest(nW, lit(1)).cast("double")
    val alphaFrac = size(filter(toks, t => t.rlike("\\p{L}"))).cast("double") /
      greatest(nW, lit(1)).cast("double")
    val stopHits = size(filter(toks, t => t.isin(StopwordSets("en").map(lit): _*)))
    struct(
      nW.as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(alphaFrac, 4).as("alpha_frac"),
      stopHits.as("stop_hits"),
      (nW >= minWords && nW <= maxWords &&
        meanLen >= minMeanLen && meanLen <= maxMeanLen &&
        alphaFrac >= minAlphaFrac && stopHits >= minStopHits).as("passes"))
  }

  def fingerprint(c: Column): Column = md5(Dedup.normalizedText(c))

  /** Per-document character-entropy quality signal: Shannon entropy of
    * the character distribution in nats, `H = ln(L) − (Σ c·ln c)/L`
    * over per-character counts `c`, total length `L`. Low entropy marks
    * repetitive spam (keyword stuffing, progress-bar logs, base64
    * blobs sit HIGH — combine with [[qualityScore]]); it is the cheap
    * stand-in for the compression-ratio filter in published web
    * pipelines (RefinedWeb flags both directions).
    *
    * Shape: explode characters → (doc, char) hash agg → (doc) hash
    * agg. Both aggregations combine map-side, so the shuffle carries at
    * most docs × charset rows — corpus bytes never cross the wire.
    * Documents with empty text produce no row (no distribution to
    * measure). `char_entropy` rounds to 4 dp — the only FP reduction,
    * absorbing last-ulp ln() divergence across engines; the counts
    * the entropy derives from are exact BIGINTs. */
  def charEntropy(
      df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), "")).as("__c"))
      // split with Spark's limit=-1 keeps a trailing "" element — drop
      // it BEFORE counting or every document gains a phantom character
      .where(col("__c") =!= "")
      .groupBy(col(idCol), col("__c")).agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(sum("__n").as("n_chars_h"),
        sum(col("__n").cast("double") * log(col("__n").cast("double"))).as("__s"))
      .select(col(idCol), col("n_chars_h"),
        round(log(col("n_chars_h").cast("double")) - col("__s") / col("n_chars_h"), 4)
          .as("char_entropy"))

  /** Per-document TF-IDF keyword extraction — the classic
    * content-tagging / search-boosting signal (Salton & Buckley 1988):
    * for each document, the k terms with the highest
    * `tf · ln((N+1)/(df+1))`, the smoothed IDF that keeps
    * corpus-universal terms near zero without a division by zero.
    *
    * Exactness discipline (the DSIR fixed-point rule): tf, df and N
    * are exact BIGINTs; the IDF is fixed-pointed —
    * `floor(ln((N+1)/(df+1)) · 10⁶)` — BEFORE the tf multiply, so the
    * ranking key `score_fp = tf · idf_fp` is an exact BIGINT and the
    * per-document order (score DESC, term ASC) cannot drift across
    * partitions, re-runs, or engines. The one `ln` is of a division of
    * bit-identical integer-valued doubles.
    *
    * 100 TB shape: explode → (doc, term) map-side-combined count →
    * (term) count for df (rows in, one per DISTINCT (doc, term) — the
    * tf aggregation already collapsed duplicates) → term-keyed join of
    * tf against df (both sides already term-partitioned by their aggs)
    * → per-doc top-k window. The window shuffles (doc, term, score)
    * triples — bounded by distinct terms per doc, never corpus text;
    * partition key = document, so skew is bounded by document length.
    * The IDF's N is a single-row count aggregate crossJoin-broadcast
    * onto the (bounded) df side — it rides the SAME job as everything
    * else, no separate driver count action over the corpus.
    *
    * Returns `(idCol, rn, term, score_fp)`, rn = 1..k. */
  def topKeywords(
      df: DataFrame, tokensCol: Column, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0)
    val nRow = df.agg(count(lit(1L)).as("__n"))
    val tf = df.select(col(idCol), explode(tokensCol).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nRow))
    val idfFp = floor(
      log((col("__n") + 1L).cast("double") / (col("df") + 1L).cast("double"))
        * lit(1e6))
      .cast("long")
    val scored = tf.join(dfreq, "term")
      .select(col(idCol), col("term"), (col("tf") * idfFp).as("score_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score_fp").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(idCol), col("rn").cast("long").as("rn"),
        col("term"), col("score_fp"))
  }

  /** Character-trigram language-model score — the CCNet-style
    * perplexity proxy (Wenzek et al. 2020 use a KenLM 5-gram model; no
    * model files ship in this environment, so the profile is trained
    * from the corpus itself): per-language add-one-smoothed trigram
    * frequencies over the normalized text, then each document scored by
    * the mean log10 probability of its trigrams under its own
    * language's profile. Very negative scores mark out-of-distribution
    * text (mojibake, wrong-language spans, binary junk) — the standard
    * cheap filter tier before model-based scoring. Returns
    * `(idCol, n_tri, avg_logp)` for documents with ≥1 trigram;
    * `avg_logp` rounds to 4 dp (the only FP reduction).
    *
    * 100 TB shape: the profile is one map-side-combined aggregation
    * keyed by (lang, trigram) — bounded by charset³ per language, NOT
    * corpus size — and broadcast-joinable at scoring time; documents
    * ride the shuffle as per-doc trigram COUNTS, never positions. The
    * smoothing vocabulary V is a 1-row aggregate crossJoin-broadcast,
    * not a driver collect. The trigram slide is a JIT'd UDF for the
    * same reason as [[repetitionProfile]] (interpreted HOFs cost ~3
    * lambda dispatches per element).
    */
  def charTrigramLm(
      df: org.apache.spark.sql.DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      langCol: String = "lang"): org.apache.spark.sql.DataFrame = {
    // One JIT'd pass per document emitting the per-doc trigram COUNTS
    // directly (a hash map built inside the UDF) instead of exploding
    // one row per position into a Catalyst hash aggregation: the
    // per-position row + agg-probe overhead was the kernel's dominant
    // CPU (~14 task-CPU-s at sf0.1). Values are identical — the old
    // groupBy(id, lang, tri).count() computed exactly these counts.
    val triCountsUdf = udf { (s: String) =>
      if (s == null || s.length < 3) Map.empty[String, Long]
      else {
        val m = new java.util.HashMap[String, Long]()
        var i = 0
        while (i + 3 <= s.length) {
          val t = s.substring(i, i + 3)
          m.put(t, m.getOrDefault(t, 0L) + 1L)
          i += 1
        }
        scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.toMap
      }
    }
    // widen (conditional): the trigram counting is CPU-dense and runs
    // at scan parallelism — one split at report scale
    val base = ScanWidth.widen(
      df.select(col(idCol).as("id"), col(langCol).as("lang"),
        col(textCol).as("__text")), col("id"))
    // triCounts feeds BOTH the per-language profile and the scoring
    // join; each would otherwise re-run the count derive
    val triCounts = Checkpointing.shared(base.select(col("id"), col("lang"),
        explode(triCountsUdf(Dedup.normalizedText(col("__text")))).as(Seq("tri", "c"))))
    val profile = triCounts.groupBy("lang", "tri").agg(sum(col("c")).as("cnt"))
    val langTot = profile.groupBy("lang").agg(sum(col("cnt")).as("tot"))
    val vocabDf = profile.agg(countDistinct(col("tri")).as("vv"))
    // the smoothing denominator is constant per language, so the score
    // decomposes as Σc·log10(cnt+1)/Σc − log10(tot+V): only the bounded
    // (lang,tri) profile rides the wide per-trigram join; the per-lang
    // scalars attach AFTER the per-doc reduction (a #docs-row join,
    // not a #trigrams-row one). The oracle replays this exact
    // decomposition so the FP path matches step for step.
    triCounts.join(broadcast(profile), Seq("lang", "tri"))
      .groupBy("id", "lang")
      .agg(
        sum(col("c")).cast("long").as("n_tri"),
        sum(col("c") * log10((col("cnt") + 1).cast("double"))).as("__sumlp"))
      .join(broadcast(langTot), "lang")
      .crossJoin(broadcast(vocabDf))
      .select(col("id").as(idCol), col("n_tri"),
        round(col("__sumlp") / col("n_tri") -
          log10((col("tot") + col("vv")).cast("double")), 4).as("avg_logp"))
  }

  /** Rolling hash over the normalized token stream — an order-sensitive
    * fingerprint (anagram-proof, unlike a token-set hash). Uses
    * rotate-xor instead of multiply-add: shifts and xor can't trip ANSI
    * overflow checking (Spark 4 default). */
  def rollingHash(c: Column): Column =
    aggregate(
      tokens(c), lit(0L),
      (acc, t) =>
        shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59)).bitwiseXOR(xxhash64(t)))
}
