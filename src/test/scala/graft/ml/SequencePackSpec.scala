package graft.ml

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[SequencePack]] — GPT-style pack-then-chunk window mapping. Oracle =
  * a naive driver-side packer over the documented semantics. */
class SequencePackSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def nTokens(text: String): Long =
    text.trim.toLowerCase.replaceAll("\\s+", " ").split(" ", -1).length.toLong

  private def naive(
      docs: Seq[(String, Long, String)], budget: Long): Set[(String, Long, Long, Long, Long, Long)] =
    docs.groupBy(_._1).flatMap { case (pack, ds) =>
      var start = 0L
      ds.sortBy(_._2).flatMap { case (_, id, text) =>
        val n = nTokens(text)
        val first = start / budget
        val last = (start + n - 1) / budget
        val rows = (first to last).map { w =>
          (pack, id, n, w,
            math.max(w * budget - start, 0L),
            math.min((w + 1) * budget - start, n))
        }
        start += n
        rows
      }
    }.toSet

  private val corpus = Seq(
    ("a", 1L, "one two three four five"),            // 5 tokens
    ("a", 2L, "six seven"),                          // 2
    ("a", 3L, (1 to 23).map("t" + _).mkString(" ")), // 23 -> spans several windows
    ("a", 4L, "x"),                                  // 1
    ("b", 10L, "alpha beta gamma"),                  // separate pack
    ("b", 11L, ""),                                  // empty -> 1 token
    ("c", 20L, (1 to 8).map("c" + _).mkString(" "))) // exactly one budget at B=8

  test("operator == naive reference across budgets") {
    for (b <- Seq(1, 3, 8, 100)) {
      val got = SequencePack.packWindows(corpus.toDF("source", "doc_id", "text"), b)
        .select("source", "doc_id", "n_tokens", "window_idx", "tok_from", "tok_to")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSet
      assert(got == naive(corpus.map(t => (t._1, t._2, t._3)), b), s"budget $b")
    }
  }

  test("every window except each pack's last is exactly full; spans tile each doc") {
    val B = 7
    val out = SequencePack.packWindows(corpus.toDF("source", "doc_id", "text"), B)
    val winFill = out.groupBy("source", "window_idx")
      .agg(sum(col("tok_to") - col("tok_from")).as("fill"),
        max(col("window_idx")).as("w"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val lastWin = winFill.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    winFill.foreach { case (src, w, fill) =>
      if (w != lastWin(src)) assert(fill == B, s"window ($src,$w) underfull: $fill")
      else assert(fill >= 1 && fill <= B)
    }
    // per-doc spans tile [0, n): contiguous, disjoint, complete
    val spans = out.select("doc_id", "n_tokens", "window_idx", "tok_from", "tok_to")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
    spans.foreach { case (id, xs) =>
      val sorted = xs.sortBy(_._3)
      assert(sorted.head._4 == 0L, s"doc $id first span must start at 0")
      assert(sorted.last._5 == sorted.head._2, s"doc $id last span must end at n")
      sorted.sliding(2).foreach {
        case Array(p, q) => assert(p._5 == q._4, s"doc $id spans must be contiguous")
        case _ => ()
      }
    }
  }

  test("packs are independent: adding a doc to pack b never changes pack a's windows") {
    val base = SequencePack.packWindows(corpus.toDF("source", "doc_id", "text"), 6)
      .where($"source" === "a").collect().toSet
    val grown = SequencePack.packWindows(
      (corpus :+ (("b", 12L, "extra doc here"))).toDF("source", "doc_id", "text"), 6)
      .where($"source" === "a").collect().toSet
    assert(base == grown)
  }

  test("megapack-safe: doc rows shuffle on (pack, id-range group), never pack alone") {
    val plan = SequencePack.packWindows(corpus.toDF("source", "doc_id", "text"), 8)
      .queryExecution.executedPlan.toString
    // both doc-row exchanges (prefix window + reused totals branch) are
    // keyed (source, _grp): a one-pack corpus spreads over id-range groups
    // instead of landing on ONE reducer (the round-6 scale-killer)
    assert("hashpartitioning\\(source#\\d+, _grp#".r.findAllIn(plan).size == 2, plan)
    // exactly one pack-alone exchange remains — the TINY per-group offsets
    // table (docs/groupSize rows), not doc rows
    assert("hashpartitioning\\(source#\\d+, \\d+\\)".r.findAllIn(plan).size == 1, plan)
    // the offsets attach back onto doc rows is a broadcast, not a shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("two-phase prefix: groupSize never changes results, incl. a one-pack megapack") {
    val onePack = corpus.map { case (_, id, t) => ("mega", id, t) }
    val want = naive(onePack, 8)
    for (g <- Seq(1L, 2L, 7L, SequencePack.DefaultGroupSize)) {
      val got = SequencePack.packWindows(
        onePack.toDF("source", "doc_id", "text"), 8, groupSize = g)
        .select("source", "doc_id", "n_tokens", "window_idx", "tok_from", "tok_to")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSet
      assert(got == want, s"groupSize $g")
    }
  }

  test("budget guard") {
    intercept[IllegalArgumentException](
      SequencePack.packWindows(corpus.toDF("source", "doc_id", "text"), 0))
  }

  test("a docs column with a reserved internal name is rejected by name") {
    val docs = corpus.toDF("source", "doc_id", "text")
    for (c <- SequencePack.ReservedColumns) {
      val withC = docs.withColumn(c, lit(1L))
      val e1 = intercept[IllegalArgumentException](SequencePack.packWindows(withC, 8))
      val e2 = intercept[IllegalArgumentException](SequencePack.assembleWindows(withC, 8))
      assert(e1.getMessage.contains(s"`$c`") && e2.getMessage.contains(s"`$c`"), e1.getMessage)
    }
    val e = intercept[IllegalArgumentException](SequencePack.packWindows(docs.withColumn("_GRP", lit(1L)), 8))
    assert(e.getMessage.contains("`_GRP`"), e.getMessage)
  }

  test("assembly: window texts concatenated in order reproduce each pack's corpus exactly") {
    for (b <- Seq(4, 9, 64)) {
      val wins = SequencePack.assembleWindows(corpus.toDF("source", "doc_id", "text"), b)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      // every non-final window is exactly full (by token count of its text too)
      val lastWin = wins.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      wins.foreach { case (src, w, text, nt) =>
        assert(text.split(" ", -1).length.toLong == nt, s"($src,$w) text/count mismatch")
        if (w != lastWin(src)) assert(nt == b, s"($src,$w) underfull")
      }
      // concat property: windows in order == norm docs in id order
      val rebuilt = wins.groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3).mkString(" ")).toMap
      val want = corpus.groupBy(_._1).view.mapValues(_.sortBy(_._2)
        .map(d => d._3.trim.toLowerCase.replaceAll("\\s+", " ")).mkString(" ")).toMap
      assert(rebuilt == want, s"budget $b")
    }
  }
}
