package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.TextOps

/** Greedy longest-match subword tokenization ([[graft.functions
  * .SubwordTokens]]) + deterministic vocabulary derivation
  * ([[TextOps.subwordVocab]]). */
class SubwordSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tok(vocab: Seq[String], words: Seq[String]): Seq[String] =
    Seq(Tuple1(words)).toDF("w")
      .select(GraftFunctions.subwordTokens($"w", vocab).as("t"))
      .as[Seq[String]].collect().head

  test("native char_grams matches the HOF subwordGrams spelling, " +
      "order included (multi-byte chars, short words, empty string)") {
    val words = Seq("hello", "ab", "a", "", "naïve日本語x", "abcd",
      "ééé", "word boundary")
    val both = words.toDF("wd")
      .select($"wd",
        GraftFunctions.charGrams($"wd", TextOps.SubwordMinGram,
          TextOps.SubwordMaxGram).as("native"),
        TextOps.subwordGrams($"wd").as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"grams differ for '${r.getString(0)}'")
    }
  }

  test("longest vocabulary match wins at every position") {
    // at pos 0 of "abcd" both "ab" and "abc" match; greedy takes "abc"
    assert(tok(Seq("ab", "abc", "cd"), Seq("abcd")) == Seq("abc", "d"))
    assert(tok(Seq("ab", "abc", "cd"), Seq("abab")) == Seq("ab", "ab"))
    assert(tok(Seq("ab", "abc", "cd"), Seq("xcd")) == Seq("x", "cd"))
  }

  test("unmatched positions fall back to single characters (total, no unk)") {
    assert(tok(Seq("zz"), Seq("abc")) == Seq("a", "b", "c"))
    assert(tok(Seq.empty, Seq("ab")) == Seq("a", "b"))
  }

  test("a document's tokens are its words' tokens in word order") {
    assert(tok(Seq("ab"), Seq("abx", "yab")) == Seq("ab", "x", "y", "ab"))
    assert(tok(Seq("ab"), Seq.empty) == Seq.empty)
  }

  test("matching is code-point based (multi-byte chars count as one)") {
    // "é" is 2 bytes in UTF-8; byte-based indexing would split it
    assert(tok(Seq("éa"), Seq("héab")) == Seq("h", "éa", "b"))
  }

  test("vocabulary derivation: frequency order, ties by gram ascending") {
    // "aba" occurrences: grams ab, ba, aba; ×2 docs → ab:2 ba:2 aba:2
    // "xy" once → xy:1; K=3 keeps the count-2 grams, tie-broken asc
    val docs = Seq("aba aba", "xy").toDF("text")
    val v = TextOps.subwordVocab(docs, 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(v == Seq(("ab", 2L), ("aba", 2L), ("ba", 2L)))
  }

  test("empty and whitespace-only words tokenize to nothing (total)") {
    // split('', '\\s+') yields [""]; the empty word must contribute
    // zero tokens, and the doc-level projection must still emit a row
    // (the oracle LEFT JOINs documents for the same reason)
    assert(tok(Seq("ab"), Seq("")) == Seq.empty)
    val row = Seq(Tuple2(1L, "   ")).toDF("doc_id", "text")
      .select($"doc_id",
        GraftFunctions.subwordTokens(TextOps.tokens($"text"), Seq("ab"))
          .as("toks"))
      .select($"doc_id", size($"toks").cast("long").as("n_tokens"),
        array_join($"toks", " ").as("subword_text"))
      .as[(Long, Long, String)].collect().head
    assert(row == ((1L, 0L, "")))
  }

  test("SQL callers can pass the vocab as array(...), not only a Literal") {
    val got = spark.sql(
      "SELECT subword_tokens(array('abcd'), array('ab','cd')) AS t")
      .as[Seq[String]].collect().head
    assert(got == Seq("ab", "cd"))
  }

  test("gram bounds use code points: astral-only vocab still matches") {
    // "𝕏" (U+1D54F) is 2 UTF-16 units; String.length-based bounds would
    // set minGram=4 for vocab "𝕏𝕏" and never probe 2-code-point grams
    assert(tok(Seq("𝕏𝕏"),
      Seq("𝕏𝕏a")) ==
      Seq("𝕏𝕏", "a"))
  }

  test("tokenization against the derived vocab matches a hand replay") {
    val docs = Seq("aba aba", "xy").toDF("text")
    val vocab = TextOps.subwordVocabSeq(docs, 3)
    // "aba": pos0 longest match "aba" (3-gram in vocab); "xy": not in
    // vocab (count 1 < K cut? no — K=3 keeps only the three count-2
    // grams), so falls back to chars
    assert(tok(vocab, Seq("aba")) == Seq("aba"))
    assert(tok(vocab, Seq("xy")) == Seq("x", "y"))
    assert(tok(vocab, Seq("abab")) == Seq("aba", "b"))
  }
}
