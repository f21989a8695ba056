package graft.ml

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Bit-parity of the fused [[EnrichDoc]] kernel against the declarative
  * composition it replaced in the crawl tick's enrich stage. */
class TextEnrichSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cases = Seq(
    "the quick brown fox jumps over the lazy dog",
    "The the THE of and to in is it for on",            // adjacent stopwords
    " leading and trailing spaces  ",
    "tabs\tand\nnewlinesmixed\r\nwhitespace",
    "punct!!! lots... of, punct;;; (and) [brackets] {braces} <angle>",
    "",                                                  // empty
    "   ",                                               // spaces only
    "single",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z", // many short tokens
    "no stopwords here whatsoever truly none",
    "ünïcödé tëxt with Ümlauts and ÉMOJI-free content",
    "la la la de de en un es que y the fox",              // es/fr-shared words + runs
    "le la de et que en un est pour dans",                // all-fr list verbatim
    "der die das la la LE le DE de weird MIX",            // cross-language adjacency
    "the the the of of and and and and to",               // runs: ceil(k/2) semantics
    "Istanbul II III IV the ÍN İN in IS",                 // dotted/dotless I, Locale.ROOT
    "the " * 50 + "end") ++
    graft.synth.PageSynth.pages(40L).map(p =>
      new String(p.page.html, java.nio.charset.StandardCharsets.UTF_8).take(2000))

  test("fused enrich_doc == declarative simhash/band0/fingerprint/quality, field by field") {
    val df = cases.toDF("text")
    val declarative = df.select(
      TextHashFunctions.simhash64(col("text")).as("simhash"),
      xxhash64(TextHashFunctions.minhash_sig(col("text"), numHashes = 8)).as("minhash_band0"),
      TextHashFunctions.doc_fingerprint(col("text")).as("fingerprint"),
      TextAnalysis.qualityFeaturesDeclarative(col("text")).as("quality"))
    val fused = df.select(TextEnrichFunctions.enrich_doc(col("text")).as("e"))
      .select(col("e.simhash"), col("e.minhash_band0"), col("e.fingerprint"), col("e.quality"))

    val d = declarative.collect()
    val f = fused.collect()
    assert(d.length == f.length)
    d.zip(f).zip(cases).foreach { case ((dr, fr), text) =>
      assert(dr.getLong(0) == fr.getLong(0), s"simhash mismatch on: ${text.take(60)}")
      assert(dr.getLong(1) == fr.getLong(1), s"band0 mismatch on: ${text.take(60)}")
      assert(dr.getLong(2) == fr.getLong(2), s"fingerprint mismatch on: ${text.take(60)}")
      val dq = dr.getStruct(3)
      val fq = fr.getStruct(3)
      assert(dq.getInt(0) == fq.getInt(0), s"n_chars mismatch on: ${text.take(60)}")
      assert(dq.getInt(1) == fq.getInt(1), s"n_tokens mismatch on: ${text.take(60)}")
      assert(dq.getDouble(2) == fq.getDouble(2), s"mean_token_len mismatch on: ${text.take(60)}")
      assert(dq.getDouble(3) == fq.getDouble(3), s"punct_ratio mismatch on: ${text.take(60)}")
      assert(dq.getDouble(4) == fq.getDouble(4), s"stopword_ratio mismatch on: ${text.take(60)}")
    }
  }

  test("enrich_doc is null-safe and codegen-compatible") {
    val df = Seq(Some("some text"), None).toDF("text")
    val out = df.select(TextEnrichFunctions.enrich_doc(col("text")).as("e")).collect()
    assert(out(0).getStruct(0) != null)
    assert(out(1).isNullAt(0))
  }

  test("fused lang scores + lang_id == declarative stopwordHits + langId, per language") {
    val df = cases.toDF("text")
    val langCols = graft.ml.TextEnrich.langWordLists.zipWithIndex.map { case (ws, i) =>
      TextAnalysis.stopwordHits(col("text"), ws.toSeq).as(s"d_$i")
    }
    val declarative = df.select(
      langCols :+ TextAnalysis.langIdDeclarative(col("text")).as("d_lang"): _*)
    val fused = df.select(TextEnrichFunctions.analyze_text(col("text")).as("a"))
      .select(col("a.s_en"), col("a.s_de"), col("a.s_es"), col("a.s_fr"), col("a.lang_id"))
    val d = declarative.collect()
    val f = fused.collect()
    assert(d.length == f.length)
    d.zip(f).zip(cases).foreach { case ((dr, fr), text) =>
      (0 until 4).foreach { i =>
        assert(dr.getLong(i) == fr.getLong(i),
          s"lang-score[${graft.ml.TextEnrich.langNames(i)}] mismatch on: ${text.take(60)}")
      }
      assert(dr.getString(4) == fr.getString(4), s"lang_id mismatch on: ${text.take(60)}")
    }
  }

  test("the public TextAnalysis API (now fused) matches the declarative parity oracles") {
    val df = cases.toDF("text")
    val a = df.select(
      TextAnalysis.qualityFeatures(col("text")).as("q"),
      TextAnalysis.langId(col("text")).as("l")).collect()
    val b = df.select(
      TextAnalysis.qualityFeaturesDeclarative(col("text")).as("q"),
      TextAnalysis.langIdDeclarative(col("text")).as("l")).collect()
    a.zip(b).zip(cases).foreach { case ((ar, br), text) =>
      assert(ar.getStruct(0) == br.getStruct(0) ||
        ar.getStruct(0).toSeq == br.getStruct(0).toSeq,
        s"qualityFeatures mismatch on: ${text.take(60)}")
      assert(ar.getString(1) == br.getString(1), s"langId mismatch on: ${text.take(60)}")
    }
  }

  test("norm_text kernel == regexp_replace(lower(trim(text)), \\s+, ' '), bit for bit") {
    val df = cases.toDF("text")
    val got = df.select(TextEnrichFunctions.norm_text(col("text"))).collect().map(_.getString(0))
    val want = df.select(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .collect().map(_.getString(0))
    got.zip(want).zip(cases).foreach { case ((g, w), t) =>
      assert(g == w, s"norm_text mismatch on: ${t.take(60)}")
    }
  }

  test("norm_text is root-locale: a Turkish JVM default locale does not change it") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      assert("Ärger IN".toLowerCase == "ärger ın") // what a default-locale lowercase gives
      assert(TextEnrich.normText("Ärger IN") == "ärger in")
      val got = Seq("Ärger IN").toDF("text")
        .select(TextEnrichFunctions.norm_text(col("text"))).as[String].head()
      assert(got == "ärger in")
    } finally java.util.Locale.setDefault(saved)
  }

  test("langId null-in behavior matches the declarative form ('und', not null)") {
    val df = Seq(Some("le la de et"), None).toDF("text")
    val fused = df.select(TextAnalysis.langId(col("text"))).collect().map(_.getString(0))
    val decl = df.select(TextAnalysis.langIdDeclarative(col("text"))).collect().map(_.getString(0))
    assert(fused.toSeq == decl.toSeq)
    assert(fused.toSeq == Seq("fr", "und"))
  }
}
