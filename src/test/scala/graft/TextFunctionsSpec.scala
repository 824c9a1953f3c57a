package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, TextProfile}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount counts alnum runs, lowercased") {
    val out = Seq("Hello, World! 42 foo_bar").toDF("text")
      .select(TextFunctions.tokenCount(col("text"))).head.getInt(0)
    assert(out == 5) // hello world 42 foo bar
  }

  test("fingerprint equals the manual polynomial fold") {
    val text = "abc"
    val expected = text.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 2147483647L)
    val out = Seq(text).toDF("text")
      .select(TextFunctions.fingerprint(col("text"))).head.getLong(0)
    assert(out == expected)
  }

  test("fingerprint of empty string is 0 (no trailing-split artifact)") {
    val out = Seq("").toDF("text")
      .select(TextFunctions.fingerprint(col("text"))).head.getLong(0)
    assert(out == 0L)
  }

  test("modelScore equals the manual hashed-feature fold") {
    val weights = (0 until 8).map(b => b * 0.125 - 0.5)
    def polyHash(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 2147483647L)
    val text = "Hello world hello"
    val toks = Seq("hello", "world", "hello")
    val expected = BigDecimal(0.25) +
      toks.map(t => BigDecimal(weights((polyHash(t) % 8).toInt))
        .setScale(8)).sum / 3
    val out = Seq(text).toDF("text")
      .select(TextFunctions.modelScore(col("text"), weights, bias = 0.25))
      .head.getDouble(0)
    assert(math.abs(out - expected.toDouble) < 1e-9)
  }

  test("modelScore of an empty document is exactly the bias") {
    val weights = Seq(0.5, -0.5)
    val out = Seq("", "!!!").toDF("text")
      .select(TextFunctions.modelScore(col("text"), weights, bias = 0.125))
      .collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(0.125, 0.125))
  }

  test("langId picks the language with most stopword hits") {
    val rows = Seq(
      "the cat is on the mat and a dog",      // en
      "der hund und die katze nicht ein",     // de
      "le chat et la maison les des une"      // fr
    ).toDF("text").select(TextFunctions.langId(col("text")))
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("en", "de", "fr"))
  }

  test("qualityScore stays in [0,1]") {
    val out = Seq("", "the quick brown fox is a test of this and that",
        "!!!???...;;;").toDF("text")
      .select(TextFunctions.qualityScore(col("text")))
      .collect().map(_.getDouble(0))
    assert(out.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("scrubPii redacts emails and phones, counters agree") {
    val d = Seq(
      "mail me at jane.doe+spam@sub.example.co.uk or 415-555-2671 today",
      "no pii here", "two mails a@b.io c@d.org and 123-456-7890 999-888-7777"
    ).toDF("text").select(
      TextFunctions.scrubPii(col("text")).as("s"),
      TextFunctions.piiEmailCount(col("text")).as("ne"),
      TextFunctions.piiPhoneCount(col("text")).as("np"))
    val rows = d.collect()
    assert(rows(0).getString(0) == "mail me at <EMAIL> or <PHONE> today")
    assert(rows(0).getInt(1) == 1 && rows(0).getInt(2) == 1)
    assert(rows(1).getString(0) == "no pii here")
    assert(rows(2).getString(0) == "two mails <EMAIL> <EMAIL> and <PHONE> <PHONE>")
  }

  test("repetition computes dup-word and top-bigram fractions") {
    val d = Seq(
      (1L, "a b a b a"),   // 5 words, 2 distinct → dup 0.6; "a b" ×2 of 4
      (2L, "x y z w"),     // all distinct → dup 0, each bigram once → 1/3
      (3L, "solo")         // single word → no bigrams → 0.0
    ).toDF("doc_id", "text")
    val out = graft.operators.TextStats.repetition(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_words"), r.getAs[Double]("dup_word_frac"),
          r.getAs[Double]("top_bigram_frac")))).toMap
    assert(out(1L) == ((5L, 0.6, 0.5)))
    assert(out(2L) == ((4L, 0.0, 0.3333)))
    assert(out(3L) == ((1L, 0.0, 0.0)))
  }

  test("dupNgramCoverage scores cross-document duplicated n-grams") {
    val d = Seq(
      (1L, "a b c d e f"),   // grams: "a b c", "b c d", "c d e", "d e f"
      (2L, "z z a b c d z"), // shares "a b c", "b c d" with doc 1
      (3L, "q r s t"),       // grams: "q r s", "r s t" — unique
      (4L, "xx yy")          // < 3 words → no grams → 0
    ).toDF("doc_id", "text")
    val out = graft.operators.TextStats.dupNgramCoverage(d, "text",
        "doc_id", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup"),
          r.getAs[Double]("dup_ngram_frac")))).toMap
    assert(out(1L) == ((4L, 2L, 0.5)))
    assert(out(2L) == ((5L, 2L, 0.4)))
    assert(out(3L) == ((2L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  test("dupNgramCoverage counts repeated in-doc grams once (distinct)") {
    // "a b a b a b": 3-grams = {"a b a", "b a b"} repeated — distinct
    // per doc, so none is corpus-duplicated across these two docs
    val d = Seq((1L, "a b a b a b"), (2L, "c d c d c d"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextStats.dupNgramCoverage(d, "text",
        "doc_id", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup")))).toMap
    assert(out(1L) == ((2L, 0L)))
    assert(out(2L) == ((2L, 0L)))
  }

  // the regexp_count formulations of the TextProfile counters: the
  // executable spec the native scan is pinned against
  private def tokenCountRegex(text: Column): Column =
    regexp_count(lower(text), lit("[a-z0-9]+"))

  private def punctCountRegex(text: Column): Column =
    regexp_count(text, lit("[.,;:!?]"))

  private def stopwordCountRegex(text: Column, lang: String): Column = {
    val pat = TextProfile.stopwordTable(lang).mkString("\\b(", "|", ")\\b")
    regexp_count(lower(text), lit(pat))
  }

  test("TextProfile native counts ≡ the regexp_count formulations " +
      "(real corpus + underscore/unicode/case edges)") {
    import graft.functions.{TextFunctions => TF}
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val edges = Seq(
      "a1 the_ the _the the. THE tHe",          // \b vs token split
      "_a_ a _ the",                            // underscore is \w but not a token char
      "caf\u00e9 the \u00e9the the\u00e9 und",  // non-ASCII bounds
      "le  la;les:et?des!une,le",               // punct adjacency
      "", " ", "...", "\u4f60\u597d de shi", "Y qu\u00e9 el los las y una",
      "der die das und nicht ein der der"
    ).toDF("text")
    val all = corpus.unionByName(edges)
    val langs = graft.functions.TextProfile.orderedLangs
    val checked = all.select(
      (TF.tokenCount(col("text")) === tokenCountRegex(col("text")))
        .as("tok_ok") +:
      (TF.punctCount(col("text")) === punctCountRegex(col("text")))
        .as("punct_ok") +:
      langs.map(l => (TF.stopwordCount(col("text"), l) ===
        stopwordCountRegex(col("text"), l)).as(s"stop_${l}_ok")): _*)
    val bad = checked.filter(
      checked.columns.map(c => !col(c)).reduce(_ || _)).count()
    assert(bad == 0L)
  }
}
