package graft.crawl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.lake.CrawlLake
import graft.model._
import graft.operators.{Politeness, RobotsFilter}
import graft.seen.SeenSet

/** Engine configuration. Defaults match the reference's semantics where one
  * exists (budget 5 = the `slice(0, 5)` cost guard; blockCap 1000 = the
  * no-NextToken first-page quirk). The `nowarn` silences the case class's
  * own synthetic uses of its deprecated field. */
@annotation.nowarn("cat=deprecation")
final case class CrawlConfig(
    budget: Int = 5,
    seenPartitions: Int = SeenSet.DefaultPartitions,
    expectedPerSegment: Long = 1L << 16,
    /** reference parity: Some("DownloadDocumentPDF") replicates the Op-4
      * predicate (`scrape-pdfs-from-website/lambda.ts:65-67`); None crawls
      * every discovered link. */
    linkFilterContains: Option[String] = None,
    maxDepth: Int = Int.MaxValue,
    /** crawl-scope rule gate ([[graft.operators.UrlScope]]: scheme / host
      * blocklist / extension / path depth / length) applied to every
      * CANONICALIZED discovered link before the frontier insert — the
      * production crawler's trap-and-binary guard. Seeds are not gated
      * (operator intent). None disables. */
    scope: Option[graft.operators.UrlScope.Rules] = None,
    blockCap: Int = 1000,
    /** false → skip the per-tick stat counts (extra actions); bench mode.
      * The loop still learns `scheduled` (needed for termination). */
    collectStats: Boolean = true,
    /** compute the training-data enrichment columns (simhash, minhash
      * bands, rolling fingerprint, quality features, langid) on every
      * extracted page inside the tick — the webtext-pipeline per-page
      * stage; off by default to keep the reference-parity output schema. */
    enrich: Boolean = false,
    /** cross-tick politeness: a host fetched in any of the last
      * `hostCooldownTicks` ticks is not scheduled again until the window
      * passes (0 = off). Generalizes the reference's rate(720 minutes)
      * schedule gap to per-host enforcement when triggers fire faster than
      * the politeness interval (continuous/streaming operation); derived
      * from fetch_log, so it is deterministic and resumes exactly. */
    hostCooldownTicks: Int = 0,
    /** route fetched bodies through a sitemap content sniff: a page that
      * is a sitemap (urlset / sitemapindex / plain-text) contributes its
      * loc entries to discovery — in sitemap order — instead of anchor
      * hrefs; an index's child sitemaps are crawled and re-expand next
      * tick. Off = reference parity (anchor extraction only). */
    sitemapDiscovery: Boolean = false,
    /** bounded retry budget for FAILED fetches (1 = crawl-once parity: one
      * attempt, a failure permanently leaves PENDING until a TTL re-age).
      * With N > 1 a url's failures re-enter PENDING until N attempts since
      * the last success are exhausted; exhausted urls re-age under the
      * re-crawl TTL like any fetch (see [[graft.operators.Retry]] — derived
      * from fetch_log, no new state, resume-exact). */
    maxAttempts: Int = 1,
    /** re-crawl TTL in ticks (0 = crawl-once, reference parity): a page
      * fetched at batch b becomes PENDING again at batch b + K, the
      * Spark-native generalization of the reference re-running its whole
      * scrape every `rate(720 minutes)` (see [[graft.operators.Recrawl]]).
      * The TTL view preserves the zero-exchange bucketed PENDING plan. */
    recrawlAfterTicks: Int = 0,
    /** no effect: the seen probe is always the segment-partitioned cogroup
      * ([[graft.seen.SeenSet.filterNew]]). Kept because callers written for
      * the retired broadcast probe still pass and read it by name. */
    @deprecated("the seen probe has no broadcast gate", "0.1.0")
    seenBroadcastMaxBytes: Long = 256L << 20,
    /** fold seen-set delta lists into the Bloom segments every K
      * ticks. Between compactions a tick appends exact sorted-hash delta
      * segments (bytes ∝ admitted URLs, not P × filter size); the probe
      * cogroup ORs filter ⊕ deltas, so correctness is unaffected. */
    seenCompactEvery: Int = 8,
    /** fold each bucketed table's tick partitions (frontier, fetch_log,
      * extracted) into one compacted partition every K ticks, as a replace
      * in that tick's own commit, bounding read-side file counts over long
      * crawls (0 = off — the Iceberg-rewrite-style maintenance is an
      * explicit choice, like running expire-snapshots). */
    lakeCompactEvery: Int = 0) {

  /** Bloom is the seen set's only filter kind; kept for callers that still
    * read the kind. */
  @deprecated("Bloom is the only seen-set filter kind", "0.1.0")
  def seenKind: String = "bloom"
}

final case class TickStats(
    batchId: Long,
    scheduled: Long,
    fetched: Long,
    failed: Long,
    discovered: Long,
    admittedNew: Long)

/** The crawl engine's micro-batch loop: one `tick()` = one discovery→dedup→
  * schedule→fetch→extract→commit cycle (SURVEY.md §3 "Spark lifecycle").
  * The reference's four process hops (EventBridge tick → DynamoDB stream →
  * S3 event → SNS, `stack.ts:98-210`) collapse into this loop; each arrow
  * is a Catalyst-planned DataFrame op and the only node boundaries are the
  * politeness shuffle and the commit.
  *
  * State model (all in [[CrawlLake]], one snapshot per tick):
  *  - `frontier`  append-only, exactly one row per canonical url_hash
  *    (first-discovery-wins at insert) — membership IS the seen set;
  *  - `seen`      the frontier hashes, partitioned by `pmod(url_hash, P)`
  *    and bucketed by that id: snapshot 0 appends the seeds' Bloom
  *    segments, each tick appends its admitted hashes as exact sorted delta
  *    lists, and every `seenCompactEvery` ticks the tick replaces `seen` by
  *    them folded into the Bloom segments — the table's compaction;
  *  - `fetch_log` lineage: every scheduled URL with status/bytes/partition;
  *    PENDING = frontier ∖ fetch_log, so state is derived, never mutated;
  *  - `extracted` deterministic text+KV per fetched page;
  *  - the snapshot property [[SeenSet.PartitionsProperty]]: the P that
  *    `seen` was built with, checked when a driver resumes.
  *
  * Scale shape per tick (10^10 frontier, 100 TB pages):
  *  1. pending: anti-join frontier ∖ fetch_log — with [[CrawlLake.forCrawl]]
  *     both tables are url_hash-bucketed catalog tables, so the join is
  *     co-partitioned and plans with NO Exchange on either side
  *     (plan-asserted in CrawlDriverSpec); batch_id partition pruning keeps
  *     the scan to committed batches;
  *  2. robots: broadcast join (dimension ≪ frontier);
  *  3. politeness: window with pre-shuffle WindowGroupLimit (see
  *     [[Politeness]]) — shuffle carries O(hosts·budget) rows only;
  *  4. fetch: inner join pages ⋈ scheduled batch: AQE size-gates the
  *     broadcast from the politeness output's runtime size (a small batch
  *     becomes a broadcast hash join, a huge one a shuffled join); at scale
  *     the pages scan is pruned by DPP/bucketing on url_hash — never a
  *     full-corpus shuffle;
  *  5. extraction runs inside whole-stage codegen ([[graft.functions.ExtractDocument]]);
  *  6. seen probe: candidates cogrouped with their seen partition's
  *     segments by `pmod(url_hash, P)` (Bloom ⊕ delta-list probe, no driver
  *     collect or broadcast) + one conditioned exact-confirm anti-join
  *     against the frontier ([[SeenSet.filterNew]]).
  */
final class CrawlDriver(
    spark: SparkSession,
    lake: CrawlLake,
    pages: DataFrame,
    robots: Dataset[RobotsEntry],
    cfg: CrawlConfig = CrawlConfig()) {

  import spark.implicits._

  /** Read schema of `extracted` under the current config (shared by
    * [[extractedFull]] and [[extractedSince]] so the CDC view can never
    * desync from the consumer view). */
  private val extractedReadSchema = CrawlLake.extractedSchema(cfg.enrich)

  // fail fast on a lake-layout mismatch: a bucketed `extracted` without the
  // enrichment columns would silently DROP them on every write, one with
  // them would fail every write, and a lake without a bucketed `extracted`
  // is not the crawl layout at all
  require(
    lake.bucketed.get("extracted").map(_.schema).contains(extractedReadSchema),
    s"the lake's bucketed 'extracted' layout does not match CrawlConfig.enrich=${cfg.enrich}" +
      s" — build the lake with CrawlLake.forCrawl(..., enrich = ${cfg.enrich})")

  // Fail fast on seen-geometry drift across resumes: segments are keyed by
  // pmod(url_hash, P), so resuming with a different seenPartitions than the
  // stored segments were built with makes candidates cogroup with the WRONG
  // (or no) segment — seen URLs probe maybe=false, skip the exact confirm,
  // and are silently readmitted (duplicate crawling, duplicate frontier
  // rows). Growing P passes every range check, so nothing downstream would
  // catch it (round-5 review). init() and SeenRebuild commit P as a
  // snapshot property in the same commit that writes the segments; a fresh
  // lake, or one whose manifest has no such property, skips the check.
  lake.latestSnapshotId.flatMap(lake.properties(_).get(SeenSet.PartitionsProperty)).foreach { stored =>
    require(stored.toInt == cfg.seenPartitions,
      s"seen set was built with seenPartitions=$stored but this driver is configured " +
        s"with ${cfg.seenPartitions} — the partitioned probe would silently mis-route; " +
        "resume with the original P (or rebuild the seen set from the frontier)")
  }

  private val frontierSchema = Encoders.product[FrontierEntry].schema
  private val fetchSchema = Encoders.product[FetchRecord].schema
  private val extractedSchema = CrawlLake.extractedSchema(enrich = false)
  private val segmentSchema = Encoders.product[SeenSet.Segment].schema

  /** Deterministic batch timestamps: epoch base + batch minutes. Wall clock
    * never enters the data (SURVEY.md §7.3(d) resume-exactness). */
  def tickTs(b: Long): Timestamp = graft.sim.ReferenceSimulator.tickTs(b)

  /** The pages side of the fetch join. When the corpus table already
    * carries a url_hash column (the recommended 100 TB layout: pages stored
    * as a catalog table bucketed and sorted by url_hash), it is used as-is —
    * a bucketed scan then joins the scheduled batch with NO exchange on the
    * corpus side even when the batch is too large to broadcast
    * (plan-asserted in CrawlDriverSpec). Otherwise the hash is computed
    * scan-side from the url. */
  private def pagesKeyed: DataFrame =
    if (pages.columns.contains("url_hash")) pages.select(col("url_hash"), col("html"))
    else pages.select(url_hash64(col("url")).as("url_hash"), col("html"))

  def frontier: DataFrame = lake.read("frontier", frontierSchema)
  def fetchLog: DataFrame = lake.read("fetch_log", fetchSchema)
  def extracted: DataFrame = lake.read("extracted", extractedSchema)

  /** `extracted` including the enrichment columns when the engine runs
    * with [[CrawlConfig.enrich]] — the training-data consumer's view
    * (simhash / minhash band / fingerprint / quality ride next to the
    * text in the same bucketed layout). */
  def extractedFull: DataFrame = lake.read("extracted", extractedReadSchema)

  /** The CURRENT extraction per url_hash — put-overwrite parity with the
    * reference's results sink (overwrite by JobId,
    * `send-textract-result-to-dynamo/lambda.ts:207-223`). `extracted` itself
    * is append-only lineage; under a re-crawl TTL it holds one row per
    * (url_hash, fetch batch), and THIS view is what result consumers join
    * (exactly one row per url_hash, the latest batch's — spec-asserted). */
  def latestExtracted: DataFrame =
    graft.operators.LatestView.latestByKey(extracted, "url_hash", col("batch_id"))

  /** CDC view for downstream training pipelines: every extraction committed
    * AFTER `sinceSnapshotId`, up to `untilSnapshotId` (default: latest) —
    * the E2-parity delta read ([[frontierSince]] is its frontier twin). A
    * consumer that processed snapshot s re-syncs with exactly
    * `extractedSince(s)` instead of re-reading the 10^10-row table.
    *
    * Correct across compactions: `extracted` is append-only and every row
    * carries its commit batch as the `batch_id` DATA column, which lake
    * compaction preserves while relabeling only the physical `_pbatch`
    * partitions — so delta ≡ full-diff even after the tick partitions that
    * carried the rows are folded away (spec-asserted in CrawlDriverSpec).
    * Pinning `untilSnapshotId` to a snapshot older than the last compaction
    * throws, like any expired bucketed time-travel. */
  def extractedSince(sinceSnapshotId: Long, untilSnapshotId: Option[Long] = None): DataFrame =
    lake.read("extracted", extractedReadSchema, untilSnapshotId)
      .where(col("batch_id") > lit(lake.batchIdOf(sinceSnapshotId)))

  /** Frontier CDC twin of [[extractedSince]]: every URL ADMITTED after
    * `sinceSnapshotId`. Frontier rows carry no commit-batch data column
    * (and seed `discovery_ts` may be caller-supplied wall time), so the
    * delta is the exact KEY-SET DIFFERENCE against the base snapshot —
    * correct because the frontier is append-only with exactly one row per
    * url_hash, and exchange-free because both sides are the url_hash-
    * bucketed table. Unlike extractedSince this needs the base snapshot
    * READABLE: a `since` older than the last frontier compaction throws
    * the lake's expired-time-travel error (loudly, never a wrong delta). */
  def frontierSince(sinceSnapshotId: Long, untilSnapshotId: Option[Long] = None): DataFrame =
    lake.read("frontier", frontierSchema, untilSnapshotId)
      .join(
        lake.read("frontier", frontierSchema, Some(sinceSnapshotId)).select("url_hash"),
        Seq("url_hash"), "left_anti")

  /** The tick's PENDING view — derived state, never mutated (state model
    * above). Exposed so specs can assert the co-partitioned plan; runBatch
    * uses exactly this frame. */
  def pending: DataFrame =
    frontier.join(fetchLog.select("url_hash"), Seq("url_hash"), "left_anti")

  /** PENDING under the re-crawl TTL: never fetched, or last fetched at
    * batch ≤ `batchId - recrawlAfterTicks` (so a fetch ages out after
    * exactly K ticks). Crawl-once (`recrawlAfterTicks = 0`) keeps the
    * anti-join plan — the aggregate-free shape matters at 10^10 rows. */
  def pendingAt(batchId: Long): DataFrame =
    if (cfg.maxAttempts > 1)
      graft.operators.Retry.pendingWithRetry(
        frontier, fetchLog.select("url_hash", "batch_id", "status"),
        key = "url_hash", batchCol = "batch_id", statusCol = "status",
        maxAttempts = cfg.maxAttempts,
        horizon =
          if (cfg.recrawlAfterTicks <= 0) None
          else Some(bound_value(batchId - cfg.recrawlAfterTicks + 1)))
    else if (cfg.recrawlAfterTicks <= 0) pending
    else graft.operators.Recrawl.pendingWithTtl(
      frontier, fetchLog.select("url_hash", "batch_id"),
      key = "url_hash", tsCol = "batch_id",
      horizon = bound_value(batchId - cfg.recrawlAfterTicks + 1))
  private def seenSegments: Dataset[SeenSet.Segment] =
    lake.read("seen", segmentSchema).as[SeenSet.Segment]

  /** Release driver-held runtime resources. The driver holds none since
    * the seen probe stopped broadcasting its segments; kept as a no-op
    * because callers written for that probe still call it. */
  def close(): Unit = ()

  /** Snapshot 0: seed list → frontier + seen segments. */
  def init(seeds: Seq[Seed]): Long = {
    val seedRows = seeds.zipWithIndex.map { case (s, i) =>
      val cu = graft.util.UrlCanonicalizer.canonicalize(s.url)
      // honor the caller's discovery_ts (SitemapParser.toSeeds derives it
      // from lastmod so the schedule chain prioritizes by it — stamping
      // tickTs(0) here silently flattened that to seed-list order;
      // round-5 review). Plain seed lists pass warcTs(0) == tickTs(0).
      FrontierEntry(
        graft.util.UrlCanonicalizer.urlHash(s.url), cu,
        graft.util.UrlCanonicalizer.host(cu), s.depth, s.discovery_ts, i.toLong, 0L, s.depth.toDouble)
    }
    // first-seed-wins on duplicate canonical urls
    val distinctSeeds = seedRows.groupBy(_.url_hash).map(_._2.minBy(_.seq_in_page)).toSeq
    val frontierDf = spark.createDataset(distinctSeeds).toDF()
    val segments = SeenSet.buildDeltaSegments(
      frontierDf.select("url_hash"), cfg.seenPartitions, cfg.expectedPerSegment)
    lake.commit(0L, appends = Map("frontier" -> frontierDf, "seen" -> segments.toDF()),
      properties = Map(SeenSet.PartitionsProperty -> cfg.seenPartitions.toString))
  }

  /** One micro-batch. Returns stats; commits snapshot batchId atomically. */
  def tick(): TickStats = {
    val batchId = lake.latestSnapshotId
      .map(id => lake.batchIdOf(id) + 1)
      .getOrElse(throw new IllegalStateException("call init() first"))
    runBatch(batchId)
  }

  /** The tick's write-side frames over its fetch output: `fetch_log` rows
    * (the FAILED lineage rows of `scheduled` URLs missing from `processed`
    * included), `extracted` rows, and the discovered links as frontier
    * candidates before dedup. The tick's timestamp and batch id enter as
    * [[graft.functions.BoundValue]]s, not literals, so tick b+1 generates
    * the same code as tick b and reuses its compiled classes (spec-pinned
    * in TickCodegenSpec). */
  private[crawl] def writeFrames(
      scheduled: DataFrame,
      processed: DataFrame,
      batchId: Long): (DataFrame, DataFrame, DataFrame) = {
    val ts = bound_value(tickTs(batchId))
    val batch = bound_value(batchId)
    val missing = scheduled.join(processed.select("url_hash"), Seq("url_hash"), "left_anti")

    val fetchRows = processed
      .select(
        col("url_hash"), col("url"), col("host"),
        ts.as("fetch_ts"), lit(200).as("status"), col("bytes"),
        spark_partition_id().as("partition_id"), batch.as("batch_id"))
      .unionByName(missing.select(
        col("url_hash"), col("url"), col("host"),
        ts.as("fetch_ts"), lit(404).as("status"),
        lit(0L).as("bytes"),
        spark_partition_id().as("partition_id"), batch.as("batch_id")))

    val extractedBase = processed
      .select(
        col("url_hash"), col("url"),
        lower(hex(col("url_hash"))).as("job_id"),
        col("doc.data").as("data"), col("doc.text").as("extracted_text"),
        ts.as("extract_ts"), batch.as("batch_id"))
    // fused single-pass enrichment (TextEnrich): one tokenization, zero
    // regexes, bit-identical to the declarative simhash64/minhash_sig/
    // doc_fingerprint/qualityFeatures composition it replaces (parity
    // regression-tested); codegen subexpression elimination evaluates the
    // struct once for all four projected columns
    val extractedRows =
      if (!cfg.enrich) extractedBase
      else {
        val e = graft.ml.TextEnrichFunctions.enrich_doc(col("extracted_text"))
        extractedBase
          .withColumn("simhash", e.getField("simhash"))
          .withColumn("minhash_band0", e.getField("minhash_band0"))
          .withColumn("fingerprint", e.getField("fingerprint"))
          .withColumn("quality", e.getField("quality"))
          .withColumn("lang_id", e.getField("lang_id"))
      }

    // discovery: links of fetched pages, document order preserved
    val rawLinks = processed
      .select(
        col("url_hash").as("src_hash"), col("depth").as("src_depth"),
        posexplode(col("links")).as(Seq("seq_in_page", "link")))
    val filteredLinks = cfg.linkFilterContains
      .map(s => rawLinks.where(col("link").contains(s)))
      .getOrElse(rawLinks)
      .where(col("src_depth") + 1 <= cfg.maxDepth)

    // fused link identity: hash + canonical url + host from ONE
    // canonicalization per discovered link (the unfused triple
    // canonicalized the same string up to 3x in the hottest per-link path;
    // bit-identical, parity-tested — round-5 review)
    val li = link_identity(col("link"))
    val candidates = filteredLinks
      .select(
        li.getField("url_hash").as("url_hash"),
        li.getField("url").as("url"),
        li.getField("host").as("host"),
        (col("src_depth") + 1).as("depth"),
        ts.as("discovery_ts"),
        col("seq_in_page").cast("long").as("seq_in_page"),
        col("src_hash"),
        (col("src_depth") + 1).cast("double").as("priority"))
    (fetchRows, extractedRows, candidates)
  }

  private def runBatch(batchId: Long): TickStats = {
    val tEntry = System.nanoTime()

    // cross-tick host cooldown: only the last K tick partitions of
    // fetch_log are scanned (batch_id min/max prunes parquet files, and
    // ticks are one partition each), so the recent-host set is small and
    // broadcast into the anti-join
    def mark(label: String): Unit =
      if (sys.env.contains("GRAFT_TRACE"))
        println(f"[trace]   mark $label: ${(System.nanoTime() - tEntry) / 1e9}%.2fs")
    val cooled =
      if (cfg.hostCooldownTicks <= 0) pendingAt(batchId)
      else Politeness.hostCooldown(
        pendingAt(batchId),
        // a Literal, not bound_value: parquet min/max pushdown needs one
        fetchLog.where(col("batch_id") >= lit(batchId - cfg.hostCooldownTicks)).select("host"))
    val allowed = RobotsFilter.filterAllowed(cooled, robots)
    mark("allowed")
    // localCheckpoint (NOT persist): the scheduled batch is re-read by the
    // commit writes, and with a bucketed lake the frontier/fetch_log INSERTs
    // refreshTable their targets — which invalidates any cache whose plan
    // still references those catalog tables and silently recomputes the
    // whole politeness→fetch→extract chain mid-commit. Checkpointing
    // truncates the lineage to a LogicalRDD, so the working set survives
    // the refresh. The batch is politeness-capped (small) by construction.
    val scheduled = Politeness.schedule(allowed, cfg.budget).localCheckpoint(false)
    mark("scheduled")
    // the checkpoint is materialized, so this count is a cheap cache read —
    // and an empty schedule (drained crawl, every host cooling down, or
    // every page fresh under the re-crawl TTL) short-circuits the whole
    // fetch/extract/discovery/probe machinery (~10 Spark jobs of pure
    // overhead per empty tick in steady-state TTL operation) down to the
    // snapshot bookkeeping, which stays byte-identical: empty appends plus
    // the same compaction cadences
    val scheduledCount = scheduled.count()
    if (scheduledCount == 0L) return commitEmptyTick(batchId)

    // fetch = pages ⋈ scheduled (AQE size-gates the broadcast from the
    // batch's runtime size), and BOTH extraction kernels run
    // in this same single pass so the fat `html` column dies at the scan:
    // what gets persisted/reused downstream is the compact processed row
    // (doc struct + links array), ~50x smaller than raw html. At 100 TB
    // this is the difference between caching gigabytes and caching the
    // corpus. Misses become FAILED lineage rows.
    // extract_page fuses document extraction + link/sitemap discovery into
    // one expression: the fat html column is decoded ONCE per page (the
    // unfused extract_document + extract_links pair decoded it twice);
    // codegen subexpression elimination evaluates the struct once for both
    // projected fields
    val pageExpr = extract_page(
      col("html"), col("url"), cfg.blockCap, sitemapAuto = cfg.sitemapDiscovery)
    val processed = pagesKeyed
      .join(scheduled, Seq("url_hash"), "inner")
      .select(
        col("url_hash"), col("url"), col("host"), col("depth"),
        length(col("html")).cast("long").as("bytes"),
        pageExpr.getField("doc").as("doc"),
        pageExpr.getField("links").as("links"))
      // spills to disk when a tick's fetch output outgrows executor memory
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    mark("processed")
    // everything from here holds the persisted working set: release it even
    // when a tick fails mid-flight (a long-lived driver whose caller
    // retries ticks must not accumulate one cached fetch output per failed
    // attempt; round-5 review)
    try {
    val (fetchRows, extractedRows, candidates) = writeFrames(scheduled, processed, batchId)
    mark("extractedRows")

    // crawl-scope rule gate on the canonical url — scan-side expression,
    // evaluated once per link before the dedup shuffle (out-of-scope links
    // never cost a shuffle write)
    val scoped = cfg.scope
      .map(r => candidates.where(graft.operators.UrlScope.inScope(col("url"), r)))
      .getOrElse(candidates)

    // within-batch first-discovery-wins: the total order (depth, ts, seq, src)
    val batchDedup = scoped
      .groupBy(col("url_hash"))
      .agg(min_by(
        struct(col("url"), col("host"), col("depth"), col("discovery_ts"),
          col("seq_in_page"), col("src_hash"), col("priority")),
        struct(col("depth"), col("discovery_ts"), col("seq_in_page"), col("src_hash"))).as("w"))
      .select(col("url_hash"), col("w.*"))
      .as[FrontierEntry]
    mark("batchDedup")

    // cross-batch dedup: Bloom pre-screen, exact confirm.
    // localCheckpoint for the same reason as `scheduled`: fresh's plan
    // contains the frontier scan (exact confirm), which the frontier INSERT
    // would invalidate mid-commit.
    val freshPlan = SeenSet.filterNew(
      batchDedup, seenSegments, frontier.select("url_hash"), cfg.seenPartitions).toDF()
    mark("freshPlan")
    val fresh = freshPlan.localCheckpoint(false)
    mark("fresh")

    val tTrace = System.nanoTime()
    // NB: localCheckpoint(lazy) on an AQE plan still runs doExecute — the
    // adaptive execution materializes every query stage to produce the
    // final RDD — so the span up to here includes the ACTUAL distributed
    // schedule→fetch→extract→probe chain execution, not just planning
    // (verified by jstack: main blocked in AdaptiveSparkPlanExec.doExecute).
    if (sys.env.contains("GRAFT_TRACE"))
      println(f"[trace] chain exec (fetch+extract+probe via checkpoint): ${(tTrace - tEntry) / 1e9}%.2fs")
    // materialize the shared working set ONCE before the commit: the four
    // commit writes run concurrently (CrawlLake) and would otherwise race
    // to recompute the uncached processed→links→dedup→probe chain 4x
    // (scheduled/processed materialize en route).
    val admittedCount = fresh.count()
    if (sys.env.contains("GRAFT_TRACE"))
      println(f"[trace] discover+dedup+probe: ${(System.nanoTime() - tTrace) / 1e9}%.2fs ($admittedCount new)")
    val stats =
      if (cfg.collectStats) {
        // fetched pages and discovered links (pre-filter, pre-dedup) in
        // one cached-read aggregate
        val counts = processed
          .agg(count(lit(1)), coalesce(sum(size(col("links"))), lit(0)).cast("long"))
          .head()
        val (fetchedCount, discoveredCount) = (counts.getLong(0), counts.getLong(1))
        TickStats(batchId, scheduledCount, fetchedCount,
          failed = scheduledCount - fetchedCount, discovered = discoveredCount,
          admittedNew = admittedCount)
      } else TickStats(batchId, scheduledCount, scheduledCount, 0L, 0L, admittedCount)

    val (appends, replaces) = tickWrites(batchId, Map(
      "frontier" -> fresh,
      "fetch_log" -> fetchRows,
      "extracted" -> extractedRows,
      "seen" -> SeenSet.buildDeltaList(fresh.select("url_hash"), cfg.seenPartitions).toDF()))
    lake.commit(batchId, appends, replaces)

    if (sys.env.contains("GRAFT_TRACE"))
      println(f"[trace] tick $batchId total: ${(System.nanoTime() - tTrace) / 1e9}%.2fs")
    stats
    } finally {
      // scheduled/fresh are localCheckpoints — their RDD blocks are
      // reclaimed by the ContextCleaner once unreferenced; only processed
      // holds a CacheManager entry to release
      processed.unpersist()
    }
  }

  /** The tick's writes as (appends, replaces), one rule per table shared
    * by the full and empty tick paths (they must never diverge): when its
    * cadence is due (`seenCompactEvery` for `seen`, `lakeCompactEvery` for
    * the others; 0 = never) the tick replaces the table by its visible rows
    * plus the tick's `rows` — its compaction, in the tick's own commit;
    * otherwise the tick appends its rows. `seen` folds by merging its delta
    * lists into the Bloom segments. */
  private def tickWrites(
      batchId: Long,
      rows: Map[String, DataFrame]): (Map[String, DataFrame], Map[String, DataFrame]) = {
    val replaced = lake.bucketed.keySet.filter { t =>
      val every = if (t == "seen") cfg.seenCompactEvery else cfg.lakeCompactEvery
      every > 0 && batchId % every == 0L
    }
    def fold(t: String): DataFrame =
      if (t == "seen") SeenSet.mergeSegments(seenSegments,
        rows.get(t).fold(SeenSet.emptySegments(spark))(_.as[SeenSet.Segment]), cfg.expectedPerSegment).toDF()
      else rows.get(t).foldLeft(lake.read(t, lake.bucketed(t).schema))(_ unionByName _)
    (rows -- replaced, replaced.map(t => t -> fold(t)).toMap)
  }

  /** Empty-schedule tick: identical snapshot TRAJECTORY to the full path on
    * empty inputs, with zero Spark write jobs on non-compact ticks — the
    * commit writes no table (it scrubs each one's crash leftover
    * `_pbatch=batchId` instead), so the manifest advances with nothing to
    * write. A compacting tick still replaces each due table by its
    * visible rows alone. */
  private def commitEmptyTick(batchId: Long): TickStats = {
    val (appends, replaces) = tickWrites(batchId, Map.empty)
    lake.commit(batchId, appends, replaces)
    TickStats(batchId, 0L, 0L, 0L, 0L, 0L)
  }

  /** Run `n` ticks; stops early when the crawl is drained. With a host
    * cooldown or a re-crawl TTL a single empty tick is NOT drained — hosts
    * may be cooling down, or every page may currently be fresh — so the
    * stop condition is max(hostCooldownTicks, recrawlAfterTicks)+1
    * consecutive empty ticks (after a full window with no fetch, every
    * host and every aged-out page is eligible again, so a further empty
    * tick means truly empty). */
  def run(n: Int): Seq[TickStats] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[TickStats]
    var i = 0
    var consecutiveEmpty = 0
    // with a re-crawl TTL an empty tick only means everything is currently
    // fresh — pages age back in after recrawlAfterTicks, so the drain
    // window must cover the full TTL too
    val drainWindow = math.max(math.max(0, cfg.hostCooldownTicks), cfg.recrawlAfterTicks)
    while (i < n && consecutiveEmpty <= drainWindow) {
      val s = tick()
      out += s
      if (s.scheduled == 0) consecutiveEmpty += 1 else consecutiveEmpty = 0
      i += 1
    }
    out.toSeq
  }

  /** The deterministic global crawl order so far (lineage view): every
    * scheduled fetch in (batch_id, priority-chain) order. */
  def crawlOrder(): DataFrame = {
    val withOrder = fetchLog
      .join(frontier.select("url_hash", "depth", "discovery_ts", "seq_in_page", "priority"), Seq("url_hash"))
    Politeness.globalOrder(withOrder)
      .select("batch_id", "url_hash", "url", "host", "depth", "status")
  }
}
