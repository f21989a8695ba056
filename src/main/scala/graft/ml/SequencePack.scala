package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-window sequence packing — the final step between a curated
  * corpus and a training run: documents are concatenated in a
  * deterministic order and cut into fixed `budget`-token windows,
  * documents SPLITTING across window boundaries (the GPT-style "pack then
  * chunk" recipe — no padding waste, every window exactly full). The
  * output is the (window, doc, token-span) MAP: which token range of
  * which document lands in which window — the artifact a loader needs to
  * assemble windows, and the lineage a contamination audit needs to
  * answer "which windows did document X reach".
  *
  * Exact shared semantics (Spark ≡ DuckDB oracle, q57):
  *   tokens    = the engine-wide norm/split count (empties preserved,
  *               always ≥ 1)
  *   order     = (packCol, idCol) ascending — packing is scoped PER PACK
  *               KEY (e.g. source): packs are independent, so no global
  *               total order exists anywhere
  *   start(d)  = Σ tokens of earlier docs in the pack (exclusive prefix)
  *   windows   = doc d overlaps windows floor(start/B) .. floor((end-1)/B)
  *   span      = within window w, d contributes doc-token range
  *               [max(wB - start, 0), min((w+1)B - start, n))
  * Every window of a pack except its last holds exactly B tokens; doc
  * spans tile each document exactly once.
  *
  * 100 TB shape (round 7): the exclusive prefix sum is a TWO-PHASE
  * distributed scan, not one window per pack key. A naive
  * `Window.partitionBy(packCol)` puts an ENTIRE pack on one partition —
  * with a handful of sources (the realistic Common-Crawl shape) one task
  * would receive tens of TB. Instead, docs are bucketed into contiguous
  * id-range groups (`_grp = idCol DIV groupSize` — any monotone function
  * of the id keeps groups contiguous in pack order, and DIV bounds every
  * group at `groupSize` ids with zero extra shuffles or sampling):
  *
  *   1. group totals: Σ n_tokens per (pack, _grp), computed from a NARROW
  *      (pack, grp, n) projection with map-side partial aggregation — the
  *      offsets shuffle carries one row per group (the guide-§8
  *      decide-on-small-rows pass; the token counter runs once more here,
  *      which A/B'd strictly cheaper than deriving totals off the main
  *      exchange, where the totals branch re-sorts the full
  *      payload-carrying rows because pruning cannot reach through a
  *      reused exchange);
  *   2. group offsets: exclusive prefix over the TINY totals table, one
  *      window per pack (rows = docs/groupSize — KBs where the doc window
  *      would be TBs);
  *   3. doc-local inclusive prefix: one window per (pack, _grp) — bounded
  *      at `groupSize` rows per reducer regardless of skew — plus the
  *      broadcast offsets; start = group offset + local prefix −
  *      n_tokens, bit-identical to the single-window form (q57/q58
  *      oracles unchanged). Measured on a 1.28M-row ONE-PACK corpus at
  *      local[32]: assembly 10.3–69.7 s single-window → 2.2–4.8 s
  *      two-phase (the old form's spread IS the single-reducer
  *      spill instability).
  *
  * The full-width shuffle is keyed (pack, _grp) so no reducer ever holds
  * more than `groupSize` docs. Then a scan-side explode maps each doc
  * into its (usually 1–2) overlapping windows.
  */
object SequencePack {

  /** Docs per contiguous id-range group: bounds the per-reducer sort in
    * [[packWindows]]; at 10^10 docs the offsets table is ~300k rows. The
    * value never affects results — only the shuffle shape. */
  val DefaultGroupSize = 32768L

  /** Internal column names of [[packWindows]] and [[assembleWindows]]. A
    * `docs` frame with any of them (compared case-insensitively, as Spark
    * resolves names) is rejected with an `IllegalArgumentException`. */
  val ReservedColumns: Seq[String] =
    Seq("_grp", "_cum", "_grp_offset", "_start", "_firstWin", "_lastWin", "_toks", "_piece")

  private def requireUnreserved(docs: DataFrame): Unit =
    docs.columns.find(c => ReservedColumns.exists(_.equalsIgnoreCase(c))).foreach { c =>
      throw new IllegalArgumentException(
        s"docs column `$c` is reserved by SequencePack (reserved: ${ReservedColumns.mkString(", ")})")
    }

  /** Map each doc to its training windows. Output: all of `docs`' columns
    * except `textCol`, plus `n_tokens`, `window_idx` (0-based within the
    * pack), `tok_from` (inclusive, 0-based within the doc), `tok_to`
    * (exclusive). `docs` may not have a [[ReservedColumns]] name. */
  def packWindows(
      docs: DataFrame,
      budget: Int,
      packCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text",
      groupSize: Long = DefaultGroupSize): DataFrame = {
    requireUnreserved(docs)
    pack(docs, budget, packCol, idCol, textCol, groupSize)
  }

  private def pack(
      docs: DataFrame,
      budget: Int,
      packCol: String,
      idCol: String,
      textCol: String,
      groupSize: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(groupSize >= 1, s"groupSize must be >= 1, got $groupSize")
    val n: Column = size(split(TextDedup.normText(col(textCol)), " ", -1)).cast("long")
    // contiguous id-range bucket: integral DIV is monotone nondecreasing in
    // the id, so group boundaries never split the pack order; null ids (the
    // window form ordered them first) land in the first group
    val grp: Column =
      coalesce(expr(s"CAST(`$idCol` AS BIGINT) DIV ${groupSize}L"), lit(Long.MinValue))
    val passthrough = docs.columns.filter(_ != textCol).map(col).toSeq
    val B = lit(budget.toLong)

    // phase 1+2: group token totals from a NARROW independent subtree —
    // (pack, grp, n) only, partial-aggregated before its exchange, so the
    // offsets shuffle is one row per (pack, group) regardless of corpus
    // size. The token counter runs again in this subtree (one extra scan
    // pass — the guide-§8 decide-on-small-rows trade); the alternative,
    // deriving totals off the main exchange via reuse, re-SORTS the full
    // payload-carrying rows in the totals branch (column pruning cannot
    // reach through a reused exchange), which A/B'd 2.8× slower than even
    // the single-reducer form on a 1.28M-row one-pack assembly.
    val wOff = Window.partitionBy(col(packCol)).orderBy(col("_grp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = docs
      .select(col(packCol), grp.as("_grp"), n.as("_n"))
      .groupBy(col(packCol), col("_grp"))
      .agg(sum(col("_n")).as("_g"))
      .withColumn("_grp_offset", sum(col("_g")).over(wOff) - col("_g"))
      .select(col(packCol), col("_grp"), col("_grp_offset"))

    // phase 3: doc-local INCLUSIVE prefix within the bounded (pack, group)
    // window + broadcast offsets; start = offset + local − n.
    val wLocal = Window.partitionBy(col(packCol), col("_grp")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select((passthrough :+ n.as("n_tokens") :+ grp.as("_grp")): _*)
      .withColumn("_cum", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offsets), Seq(packCol, "_grp"))
      .withColumn("_start", col("_grp_offset") + col("_cum") - col("n_tokens"))
      .withColumn("_firstWin", expr("CAST(_start DIV " + budget + " AS BIGINT)"))
      .withColumn("_lastWin", expr(s"CAST((_start + n_tokens - 1) DIV $budget AS BIGINT)"))
      .withColumn("window_idx", explode(sequence(col("_firstWin"), col("_lastWin"))))
      .withColumn("tok_from", greatest(col("window_idx") * B - col("_start"), lit(0L)))
      .withColumn("tok_to", least((col("window_idx") + 1) * B - col("_start"), col("n_tokens")))
      .drop("_grp", "_cum", "_grp_offset", "_start", "_firstWin", "_lastWin")
  }

  /** Materialize the actual window text from the [[packWindows]] map: each
    * window's token sequence is its docs' spans concatenated in pack
    * order. Output: (packCol, window_idx, window_text, window_tokens).
    *
    * Shape: the map's explode output re-slices each doc's token array
    * scan-side (`slice` on the split — tokens are computed once per doc
    * row), then ONE shuffle groups the 1-2 pieces per (pack, window);
    * ordering inside a window is by doc id (total: a doc contributes at
    * most one piece per window). `docs` may not have a [[ReservedColumns]]
    * name. */
  def assembleWindows(
      docs: DataFrame,
      budget: Int,
      packCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    requireUnreserved(docs)
    val mapped = pack(docs.withColumn("_toks", split(TextDedup.normText(col(textCol)), " ", -1)),
      budget, packCol, idCol, textCol, DefaultGroupSize)
    mapped
      .withColumn("_piece",
        array_join(slice(col("_toks"), col("tok_from") + 1, col("tok_to") - col("tok_from")), " "))
      .groupBy(col(packCol), col("window_idx"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col(idCol).as("id"), col("_piece").as("p")))),
            x => x.getField("p")),
          " ").as("window_text"),
        sum(col("tok_to") - col("tok_from")).as("window_tokens"))
  }
}
