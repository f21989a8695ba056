package graft.model

import java.sql.Timestamp

/** Core typed data model of the engine (SURVEY.md §1.4).
  *
  * The input table shape (`Page`) is mandated by `BASELINE.json:input_hint`:
  * Common-Crawl-style pages `(url, warc_ts, html:binary, text, lang)`.
  * Engine-owned tables generalize the reference's stores:
  *  - `FrontierEntry`  ≙ DynamoDB `cogcc-pdf-urls` (reference `src/stack.ts:54-62`)
  *  - `Extracted`      ≙ DynamoDB `cogcc-pdf-data` (reference `src/stack.ts:65-73`,
  *                        item shape `src/send-textract-result-to-dynamo/lambda.ts:207-210`)
  *  - `FetchRecord`    ≙ the reference's CloudWatch logs, promoted to a lineage table
  *  - `RobotsRule(s)`  — no reference counterpart (politeness there is the hard-coded
  *                        `slice(0, 5)` at `src/scrape-pdfs-from-website/lambda.ts:76-78`);
  *                        mandated by the north rule.
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** One frontier row per canonical URL; first discovery wins (the Bloom/exact
  * dedup at insert time replaces the reference's DynamoDB put-overwrite
  * idempotency, `src/scrape-pdfs-from-website/lambda.ts:94-100`, README.md:63).
  */
final case class FrontierEntry(
    url_hash: Long,
    url: String,
    host: String,
    depth: Int,
    discovery_ts: Timestamp,
    /** position of the link in its discovering page, 0-based DOM document
      * order (`page.$$eval("a", ...)` order, `scrape-pdfs-from-website/lambda.ts:58-61`).
      * Part of the total crawl-order tie-break chain. */
    seq_in_page: Long,
    /** url_hash of the discovering page (0 for seeds) — lineage, and the
      * final tie-break of the first-discovery-wins rule: when one tick
      * discovers the same URL from several pages, the surviving row is
      * min(depth, discovery_ts, seq_in_page, src_hash) — a total,
      * partitioning-independent order. */
    src_hash: Long,
    priority: Double)

/** Per-fetch lineage + metrics row (one per scheduled URL per batch). */
final case class FetchRecord(
    url_hash: Long,
    url: String,
    host: String,
    fetch_ts: Timestamp,
    status: Int,
    bytes: Long,
    partition_id: Int,
    batch_id: Long)

/** Extraction result row (≙ T2 `cogcc-pdf-data`). `data` mirrors the
  * sanitized KV map of `send-textract-result-to-dynamo/lambda.ts:172-200`;
  * `extracted_text` is the engine's document text with the byte-identical
  * per-url invariant from `BASELINE.json:input_hint`.
  */
final case class Extracted(
    url_hash: Long,
    url: String,
    job_id: String,
    data: Map[String, String],
    extracted_text: String,
    extract_ts: Timestamp,
    batch_id: Long)

final case class RobotsRule(allow: Boolean, prefix: String)

final case class RobotsEntry(
    host: String,
    rules: Seq[RobotsRule],
    crawl_delay: Double)

final case class Seed(url: String, depth: Int, discovery_ts: Timestamp)
