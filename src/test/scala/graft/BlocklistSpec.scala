package graft

import org.apache.spark.sql.functions._

import graft.expr.{AcAutomaton, BlocklistExpr}

/** [[graft.expr.AcAutomaton]] / blocklist expressions — exact
  * multi-substring semantics (equal to contains-per-pattern by
  * definition), overlapping and nested patterns, the SQL surface, and
  * analysis-time rejection of non-constant blocklists. */
class BlocklistSpec extends SparkSpec {
  import spark.implicits._

  private def reference(text: String, pats: Seq[String]): Seq[String] =
    pats.filter(text.contains)

  test("automaton equals contains-per-pattern on adversarial cases") {
    // overlapping ("aba" in "ababa" twice), nested ("ab" inside "abc"),
    // shared prefixes, a pattern that is a suffix of another, single chars
    val pats = Array("ab", "abc", "bc", "c", "aba", "bab", "xyz")
    val ac = new AcAutomaton(pats)
    val texts = Seq("", "a", "ababa", "abc", "abcabc", "zzabczz", "xyabcyz",
      "bcbcbc", "aabbcc", "xyzxyz", "cab", "babab")
    for (t <- texts) {
      val got = ac.matches(t).map(pats(_)).toSeq
      val want = reference(t, pats.toSeq)
      assert(got == want, s"text='$t': got $got want $want")
      assert(ac.anyMatch(t) == want.nonEmpty, s"anyMatch('$t')")
    }
  }

  test("flattened CSR automaton equals contains ground truth on seeded random workloads") {
    // the sorted-edge-array layout (VERDICT r9 stretch #8) property-
    // pinned: a tiny alphabet forces dense shared prefixes, deep
    // fail-link chains and nested/overlapping patterns — the shapes
    // where a flattening bug (wrong edge slice, missed fail-merged
    // output, off-by-one in CSR offsets) would surface
    val rnd = new scala.util.Random(20260814L)
    for (round <- 1 to 50) {
      val alphabet = "abc"
      val nPats = 1 + rnd.nextInt(12)
      val pats = Array.fill(nPats)(
        (1 to (1 + rnd.nextInt(5))).map(_ => alphabet(rnd.nextInt(3))).mkString)
        .distinct.filter(_.nonEmpty)
      val ac = new AcAutomaton(pats)
      for (_ <- 1 to 20) {
        val t = (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(3))).mkString
        val got = ac.matches(t).map(pats(_)).toSeq
        val want = reference(t, pats.toSeq)
        assert(got == want, s"round $round pats=${pats.mkString(",")} text='$t': got $got want $want")
        assert(ac.anyMatch(t) == want.nonEmpty)
      }
    }
  }

  test("automaton handles fail-link chains across long repeated text") {
    val pats = Array("aaab", "aab", "ab", "b")
    val ac = new AcAutomaton(pats)
    val t = "a" * 50 + "b" + "a" * 3 + "b"
    assert(ac.matches(t).map(pats(_)).toSeq == reference(t, pats.toSeq))
  }

  test("SQL surface: blocklist_any / blocklist_matches; non-constant patterns rejected") {
    Seq((1L, "the quick brown fox"), (2L, "nothing here"), (3L, "quick quick brown"))
      .toDF("id", "t").createOrReplaceTempView("bl_in")
    val rows = spark.sql(
      """SELECT id, blocklist_any(t, array('quick', 'brown fox')) AS hit,
        |       array_join(blocklist_matches(t, array('quick', 'brown fox')), ',') AS m
        |FROM bl_in ORDER BY id""".stripMargin).collect()
    assert(rows.map(_.getBoolean(1)).toSeq == Seq(true, false, true))
    assert(rows.map(_.getString(2)).toSeq == Seq("quick,brown fox", "", "quick"))
    val e = intercept[Exception] {
      spark.sql("SELECT blocklist_any(t, array(t)) FROM bl_in").collect()
    }
    assert(e.getMessage.contains("constant"), e.getMessage)
  }

  test("Column API gate filters and audits like the reference semantics") {
    val pats = Seq("bad phrase", "worse")
    val df = Seq("a bad phrase here", "clean text", "much worse text")
      .toDF("text")
    val kept = df.filter(!BlocklistExpr.blocklistAny(col("text"), pats))
      .as[String].collect().toSeq
    assert(kept == Seq("clean text"))
  }

  test("unicode patterns and text match by exact code units, like contains") {
    val pats = Array("café", "naïve", "日本")
    val ac = new AcAutomaton(pats)
    val texts = Seq("un café noir", "a naïve view of 日本 culture",
      "cafe without the accent", "")
    for (t <- texts)
      assert(ac.matches(t).map(pats(_)).toSeq == reference(t, pats.toSeq),
        s"text='$t'")
  }

  test("one automaton pass scales past the contains-per-pattern form") {
    // semantic check at larger k (the perf claim itself is structural:
    // one pass, O(len + matches)): 500 patterns, only a few present
    val pats = (0 until 500).map(i => s"pat$i phrase")
    val ac = new AcAutomaton(pats.toArray)
    val t = "xx pat7 phrase yy pat499 phrase zz pat42 phr"
    assert(ac.matches(t).map(pats(_)).toSeq == Seq("pat7 phrase", "pat499 phrase"))
  }
}
