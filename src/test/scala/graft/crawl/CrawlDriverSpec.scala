package graft.crawl

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.lake.CrawlLake
import graft.operators.RobotsMatcher
import graft.sim.ReferenceSimulator
import graft.synth.PageSynth
import graft.util.UrlCanonicalizer

class CrawlDriverSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val N = 150L
  private lazy val corpus = PageSynth.pages(N)
  private lazy val robotsEntries = PageSynth.robots()
  private lazy val robotsMap = robotsEntries.map(e => e.host -> e).toMap
  private lazy val seedUrls = PageSynth.seeds(N, 3).map(_.url)

  private def newDriver(cfg: CrawlConfig, pagesPartitions: Int = 4): (CrawlDriver, CrawlLake) = {
    val lake = CrawlLake.forCrawl(Files.createTempDirectory("graft-lake").toString, spark, buckets = 8)
    val pagesDf = spark.createDataFrame(corpus.map(_.page)).repartition(pagesPartitions)
    val robotsDs = spark.createDataset(robotsEntries)
    (new CrawlDriver(spark, lake, pagesDf, robotsDs, cfg), lake)
  }

  private def simResult(budget: Int, ticks: Int) =
    ReferenceSimulator.crawl(corpus, seedUrls, budget, ticks, robotsMap)

  private def engineOrder(d: CrawlDriver): Vector[(Long, Long, Int)] =
    d.crawlOrder().select("batch_id", "url_hash", "status")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toVector

  private def simOrder(budget: Int, ticks: Int): Vector[(Long, Long, Int)] =
    simResult(budget, ticks).crawlOrder.map(r => (r.batchId, r.urlHash, r.status)).toVector

  private val segmentSchema = org.apache.spark.sql.Encoders.product[graft.seen.SeenSet.Segment].schema

  /** `seen`'s rows at the latest snapshot, as a sorted comparable list. */
  private def seenRows(lake: CrawlLake): Seq[(Int, String, Long)] =
    lake.read("seen", segmentSchema).as[graft.seen.SeenSet.Segment].collect()
      .map(s => (s.partition_id, java.util.Base64.getEncoder.encodeToString(s.segment), s.n_items))
      .toSeq.sorted

  /** The `_pbatch` ids of table `t`'s partition dirs on disk. */
  private def partitionDirs(lake: CrawlLake, t: String): Set[Long] =
    scala.util.Using.resource(Files.list(Paths.get(lake.root, "bucketed", t)))(_.iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("_pbatch="))
      .map(_.stripPrefix("_pbatch=").toLong).toSet)

  /** Copy table `t`'s partition `from` to partition `to`, as a crash after
    * a commit's write but before its manifest leaves it; returns the copied
    * file names. */
  private def plant(lake: CrawlLake, t: String, from: Long, to: Long): Set[Path] = {
    val dir = Paths.get(lake.root, "bucketed", t)
    val dst = Files.createDirectories(dir.resolve(s"_pbatch=$to"))
    scala.util.Using.resource(Files.list(dir.resolve(s"_pbatch=$from")))(_.iterator().asScala.map { f =>
      Files.copy(f, dst.resolve(f.getFileName)).getFileName
    }.toSet)
  }

  /** Storage holds no more than the latest snapshot reads: every partition
    * dir of every table is registered and visible at the latest snapshot,
    * and there is no `data/` dir. */
  private def assertStorageTight(lake: CrawlLake): Unit = {
    val latest = lake.latestSnapshotId.get
    val batch = lake.batchIdOf(latest)
    lake.bucketed.keys.toSeq.sorted.foreach { t =>
      val dirs = partitionDirs(lake, t)
      assert(lake.partitionIds(t).toSet == dirs, t)
      val visible: Long => Boolean = lake.compactMeta(latest).get(t) match {
        case Some((cid, through)) => p => p == -cid || (p > through && p <= batch)
        case None => p => p >= 0 && p <= batch
      }
      assert(dirs.forall(visible), s"$t holds partitions that snapshot $latest cannot see: ${dirs.filterNot(visible)}")
    }
    assert(!Files.exists(Paths.get(lake.root, "data")))
  }

  test("crawl order + seen set + extracted text match the sequential oracle exactly") {
    val cfg = CrawlConfig(budget = 2, seenPartitions = 8, expectedPerSegment = 4096)
    val (driver, _) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 3))
    driver.run(3)

    val sim = simResult(budget = 2, ticks = 3)

    val simOrder = sim.crawlOrder.map(r => (r.batchId, r.urlHash, r.status))
    assert(engineOrder(driver) == simOrder)

    val engineSeen = driver.frontier.select("url_hash").as[Long].collect().toSet
    assert(engineSeen == sim.seenHashes)

    val engineTexts = driver.extracted
      .select("url_hash", "extracted_text").as[(Long, String)].collect().toMap
    assert(engineTexts == sim.extractedTexts) // byte-identical per url
  }

  test("host cooldown: cross-tick rate limit matches the sequential oracle exactly") {
    val cooldown = 2
    val cfg = CrawlConfig(
      budget = 2, seenPartitions = 8, expectedPerSegment = 4096, hostCooldownTicks = cooldown)
    val (driver, _) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 3))
    val stats = driver.run(6)
    val sim = ReferenceSimulator.crawl(
      corpus, seedUrls, budget = 2, ticks = stats.size, robotsMap, cooldownTicks = cooldown)
    assert(engineOrder(driver) == sim.crawlOrder.map(r => (r.batchId, r.urlHash, r.status)))

    // the limiter actually bites: no host is fetched in two ticks closer
    // than the cooldown window
    val byHost = driver.fetchLog.select("host", "batch_id").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    byHost.foreach { case (host, batches) =>
      batches.sliding(2).foreach {
        case Array(a, b) => assert(b - a > cooldown, s"$host fetched at ticks $a and $b")
        case _ => ()
      }
    }
    // and run() does not stop on a cooldown-induced empty tick
    assert(stats.count(_.scheduled == 0) >= 1 || stats.size == 6,
      s"expected cooldown gaps in ${stats.map(_.scheduled)}")
  }

  test("robots rules are enforced (disallowed host pages never scheduled)") {
    val cfg = CrawlConfig(budget = 3, seenPartitions = 8, expectedPerSegment = 4096)
    val (driver, _) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 5))
    driver.run(3)
    val fetchedUrls = driver.fetchLog.select("url").as[String].collect()
    fetchedUrls.foreach { u =>
      val host = UrlCanonicalizer.host(u)
      assert(RobotsMatcher.allowedUrl(robotsMap, host, u), s"robots violation: $u")
      assert(host != PageSynth.hostName(2), s"disallow-all host fetched: $u")
    }
    // host1 pages under /page/ are blocked, so only its document urls appear
    fetchedUrls.filter(_.contains(PageSynth.hostName(1))).foreach { u =>
      assert(!RobotsMatcher.pathOf(u).startsWith("/page/"), u)
    }
  }

  test("politeness: never more than budget fetches per host per tick") {
    val cfg = CrawlConfig(budget = 2, seenPartitions = 8, expectedPerSegment = 4096)
    val (driver, _) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 4))
    driver.run(4)
    val over = driver.fetchLog
      .groupBy("batch_id", "host").count().where($"count" > 2).count()
    assert(over == 0)
  }

  test("crawl order is invariant to partitioning and shuffle width") {
    val cfg = CrawlConfig(budget = 2, seenPartitions = 8, expectedPerSegment = 4096)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val (d1, _) = newDriver(cfg, pagesPartitions = 1)
    driverRun(d1)
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    val (d2, _) = try { val t = newDriver(cfg, pagesPartitions = 7); driverRun(t._1); t }
      finally spark.conf.set("spark.sql.shuffle.partitions", before)
    assert(engineOrder(d1) == engineOrder(d2))
    assert(d1.frontier.select("url_hash").as[Long].collect().toSet ==
      d2.frontier.select("url_hash").as[Long].collect().toSet)
  }

  private def driverRun(d: CrawlDriver): Unit = {
    d.init(PageSynth.seeds(N, 3)); d.run(3); ()
  }

  test("kill-and-resume ≡ straight-through (checkpoint exactness)") {
    val cfg = CrawlConfig(budget = 2, seenPartitions = 8, expectedPerSegment = 4096)
    // straight-through: 5 ticks
    val (dFull, _) = newDriver(cfg)
    dFull.init(PageSynth.seeds(N, 3))
    dFull.run(5)
    // interrupted: 3 ticks, then a brand-new driver over the same lake
    val (dPart, lake) = newDriver(cfg)
    dPart.init(PageSynth.seeds(N, 3))
    dPart.run(3)
    val resumed = new CrawlDriver(
      spark, lake, spark.createDataFrame(corpus.map(_.page)), spark.createDataset(robotsEntries), cfg)
    resumed.run(2)
    assert(engineOrder(dFull) == engineOrder(resumed))
    assert(dFull.extracted.count() == resumed.extracted.count())
    assert(dFull.frontier.select("url_hash").as[Long].collect().toSet ==
      resumed.frontier.select("url_hash").as[Long].collect().toSet)
  }

  test("reference-literal parity: next-tick schedule = slice(0,5) of filtered doc-order links") {
    // one seed page, the reference's filter + budget; the engine's tick-2
    // schedule for that host must equal the reference's admitted order
    // (filter -> slice(0,5) -> split/pop), per BASELINE.md.
    val seedPage = corpus(7) // hub page (7 % 3 != 0)
    val cfg = CrawlConfig(
      budget = 5, seenPartitions = 8, expectedPerSegment = 4096,
      linkFilterContains = Some("DownloadDocumentPDF"))
    val lake = CrawlLake.forCrawl(Files.createTempDirectory("graft-lake-ref").toString, spark, buckets = 8)
    val driver = new CrawlDriver(
      spark, lake, spark.createDataFrame(corpus.map(_.page)),
      spark.createDataset(Seq.empty[graft.model.RobotsEntry]), cfg)
    driver.init(Seq(graft.model.Seed(seedPage.page.url, 0, ReferenceSimulator.tickTs(0))))
    driver.run(2)

    val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val admitted = ReferenceSimulator.referenceTick(seedPage.links, 5, seen)

    val tick2 = driver.fetchLog.where($"batch_id" === 2)
      .join(driver.frontier.select("url_hash", "seq_in_page"), Seq("url_hash"))
      .orderBy("seq_in_page").select("url").as[String].collect().toVector
    assert(tick2 == admitted.map(_._2).map(UrlCanonicalizer.canonicalize).toVector)

    // seen-set parity: engine key = hash(canonical url); reference key =
    // DocumentId. Bijection holds on this corpus (DocumentId=i <-> url(i)).
    val engineTick2Hashes = tick2.map(UrlCanonicalizer.urlHash).toSet
    val refHashes = seen.values.map(UrlCanonicalizer.urlHash).toSet
    assert(engineTick2Hashes == refHashes)
  }

  test("crawl_delay tightens the per-host budget; engine matches the oracle") {
    // host0's entry overridden with a 30 s delay -> floor(60/30) = 2/tick
    val slowRobots = robotsEntries.map { e =>
      if (e.host == PageSynth.hostName(0)) e.copy(crawl_delay = 30.0) else e
    }
    val cfg = CrawlConfig(budget = 5, seenPartitions = 8, expectedPerSegment = 4096)
    val lake = CrawlLake.forCrawl(Files.createTempDirectory("graft-lake-delay").toString, spark, buckets = 8)
    val driver = new CrawlDriver(
      spark, lake, spark.createDataFrame(corpus.map(_.page)),
      spark.createDataset(slowRobots), cfg)
    driver.init(PageSynth.seeds(N, 3))
    driver.run(3)
    val perHostTick = driver.fetchLog.groupBy("batch_id", "host").count()
      .as[(Long, String, Long)].collect()
    perHostTick.filter(_._2 == PageSynth.hostName(0)).foreach { case (b, h, n) =>
      assert(n <= 2, s"crawl_delay violated at tick $b: $n fetches on $h")
    }
    val sim = ReferenceSimulator.crawl(
      corpus, seedUrls, budget = 5, ticks = 3,
      slowRobots.map(e => e.host -> e).toMap)
    assert(engineOrder(driver) == sim.crawlOrder.map(r => (r.batchId, r.urlHash, r.status)))
  }

  test("bucketed lake: PENDING anti-join plans with zero shuffle exchanges") {
    val cfg = CrawlConfig(budget = 2, seenPartitions = 8, expectedPerSegment = 4096)
    val (driver, _) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 3))
    driver.run(2)
    // force SMJ so the assertion is about co-partitioning, not a trivially
    // exchange-free broadcast join
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = driver.pending.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"frontier ∖ fetch_log should be co-partitioned by the bucket layout:\n$plan")
      assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("bucketed pages corpus: fetch join plans with no exchange on the pages side") {
    // the 100 TB fetch layout: pages stored bucketed by url_hash; when the
    // scheduled batch is too big to broadcast, the SMJ must leave the corpus
    // side unshuffled (only the small batch exchanges to match)
    val pagesWithHash = spark.createDataFrame(corpus.map(_.page))
      .withColumn("url_hash", graft.functions.GraftFunctions.url_hash64($"url"))
    pagesWithHash.write.mode("overwrite")
      .bucketBy(8, "url_hash").sortBy("url_hash")
      .option("path", Files.createTempDirectory("graft-pages-spec").toString)
      .saveAsTable("graft_pages_spec")
    val bucketedPages = spark.table("graft_pages_spec")

    val cfg = CrawlConfig(budget = 2, seenPartitions = 8, expectedPerSegment = 4096)
    val lake = CrawlLake.forCrawl(
      Files.createTempDirectory("graft-lake-bp").toString, spark, buckets = 8)
    val driver = new CrawlDriver(
      spark, lake, bucketedPages, spark.createDataset(robotsEntries), cfg)
    driver.init(PageSynth.seeds(N, 3))
    driver.run(3)
    // identical crawl to the plain-DataFrame corpus (oracle)
    val sim = simResult(budget = 2, ticks = 3)
    assert(engineOrder(driver) == sim.crawlOrder.map(r => (r.batchId, r.urlHash, r.status)))

    // plan shape: SMJ whose pages side has no exchange above the scan
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = bucketedPages.select($"url_hash", $"html")
        .join(driver.frontier.select("url_hash"), Seq("url_hash"), "inner")
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // exactly zero exchanges: both sides are 8-bucket tables
      assert(!plan.contains("Exchange hashpartitioning"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("seen deltas are exact lists (bytes ∝ admitted); compaction keeps the oracle exact") {
    val cfg = CrawlConfig(
      budget = 2, seenPartitions = 8, expectedPerSegment = 4096, seenCompactEvery = 3)
    val (driver, lake) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 3))
    driver.run(4) // ticks 1..4; compaction replaces `seen` at tick 3
    val sim = simResult(budget = 2, ticks = 4)
    assert(engineOrder(driver) == sim.crawlOrder.map(r => (r.batchId, r.urlHash, r.status)))

    // after the tick-3 compaction + the tick-4 delta append, `seen` holds
    // exactly two partitions on disk (compacted filters + one delta) — not
    // one per tick
    val seenParts = partitionDirs(lake, "seen")
    assert(seenParts.size == 2 && seenParts.count(_ < 0) == 1, seenParts)
    assertStorageTight(lake)

    // delta blobs are raw sorted hashes: 16 bytes fixed header + 8 B/key —
    // per-tick seen bytes track the admitted count, never P × filter size
    val segs = lake.read(
      "seen", org.apache.spark.sql.Encoders.product[graft.seen.SeenSet.Segment].schema)
      .as[graft.seen.SeenSet.Segment].collect()
    val (lists, filters) = segs.partition(s => s.segment.length == 8 + 8 * s.n_items)
    assert(lists.nonEmpty && filters.nonEmpty, s"want both kinds, got ${segs.length} segments")
    assert(lists.map(_.segment.length.toLong).sum < filters.map(_.segment.length.toLong).sum / 4)
  }

  // One seed per host puts a Bloom segment in each of the 4 seen partitions,
  // so a compaction folds every delta list back into those fixed-size
  // Blooms: the cogroup probe sees Bloom-only, Bloom ⊕ delta-list and
  // freshly compacted partitions within 5 ticks.
  test("cogroup seen probe across compactions: crawl equals the oracle") {
    val seeds = PageSynth.seeds(N, PageSynth.NumHosts)
    val ticks = 5
    val (d, lake) = newDriver(CrawlConfig(
      budget = 2, seenPartitions = 4, expectedPerSegment = 4096, seenCompactEvery = 3))
    d.init(seeds)
    val segments = lake.read("seen",
      org.apache.spark.sql.Encoders.product[graft.seen.SeenSet.Segment].schema).count()
    assert(segments == 4, "every seen partition should start with a Bloom")
    d.run(ticks)
    val sim = ReferenceSimulator.crawl(corpus, seeds.map(_.url), 2, ticks, robotsMap)
    assert(engineOrder(d) == sim.crawlOrder.map(r => (r.batchId, r.urlHash, r.status)))
    assert(d.frontier.select("url_hash").as[Long].collect().toSet == sim.seenHashes)
  }

  test("lake compaction bounds partition growth, preserves the oracle, and resumes exactly") {
    val cfg = CrawlConfig(
      budget = 2, seenPartitions = 8, expectedPerSegment = 4096, lakeCompactEvery = 2)
    val (driver, lake) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 3))
    (1L to 4L).foreach { b => // ticks 2 and 4 compact
      assert(driver.tick().batchId == b)
      // one snapshot per tick, compacting or not
      assert(lake.latestSnapshotId.contains(b), s"tick $b")
      if (b % 2 == 0)
        Seq("extracted", "fetch_log", "frontier").foreach(t => assert(lake.compactMeta(b).get(t).contains((b, b)), t))
    }
    val sim = simResult(budget = 2, ticks = 4)
    assert(engineOrder(driver) == sim.crawlOrder.map(r => (r.batchId, r.urlHash, r.status)))

    // bucketed tables hold one compacted partition (+ ticks since, here 0)
    assert(lake.partitionIds("frontier").size <= 2, lake.partitionIds("frontier"))
    assert(lake.partitionIds("fetch_log").size <= 2, lake.partitionIds("fetch_log"))
    assert(lake.partitionIds("extracted").size <= 2, lake.partitionIds("extracted"))

    // resume over the compacted lake (fresh CrawlLake = fresh-JVM path)
    val lake2 = graft.lake.CrawlLake.forCrawl(lake.root, spark, buckets = 8)
    val resumed = new CrawlDriver(
      spark, lake2, spark.createDataFrame(corpus.map(_.page)),
      spark.createDataset(robotsEntries), cfg)
    resumed.run(1)
    val simFull = simResult(budget = 2, ticks = 5)
    assert(engineOrder(resumed) == simFull.crawlOrder.map(r => (r.batchId, r.urlHash, r.status)))
    // and it lays the lake out as a straight-through crawl does
    val (straight, straightLake) = newDriver(cfg)
    straight.init(PageSynth.seeds(N, 3))
    straight.run(5)
    lake2.bucketed.keys.foreach(t => assert(lake2.partitionIds(t).sorted == straightLake.partitionIds(t).sorted, t))
  }

  test("long run: 20+ ticks with compaction keeps files bounded and the oracle exact") {
    // budget 1 stretches the 150-page corpus across ~20 ticks; compaction
    // every 5 ticks + seen folding every 4 must keep partition/dir/segment
    // counts BOUNDED (constant + since-last-compaction), not tick-linear
    val cfg = CrawlConfig(
      budget = 1, seenPartitions = 8, expectedPerSegment = 4096,
      seenCompactEvery = 4, lakeCompactEvery = 5)
    val (driver, lake) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 3))
    val stats = driver.run(25)
    assert(stats.size >= 20, s"expected a 20+-tick crawl, got ${stats.size}")

    val sim = simResult(budget = 1, ticks = stats.size)
    assert(engineOrder(driver) == sim.crawlOrder.map(r => (r.batchId, r.urlHash, r.status)))

    // bucketed tables: 1 compacted partition + at most lakeCompactEvery tick
    // partitions since the last fold
    assert(lake.partitionIds("frontier").size <= 1 + cfg.lakeCompactEvery,
      lake.partitionIds("frontier"))
    assert(lake.partitionIds("fetch_log").size <= 1 + cfg.lakeCompactEvery,
      lake.partitionIds("fetch_log"))
    assert(lake.partitionIds("extracted").size <= 1 + cfg.lakeCompactEvery,
      lake.partitionIds("extracted"))
    // seen: the merged filters + deltas since the last fold
    assert(partitionDirs(lake, "seen").size <= 1 + cfg.seenCompactEvery, partitionDirs(lake, "seen"))
    // and nothing superseded stays on disk
    assertStorageTight(lake)
  }

  test("soak: TTL + bounded retry + compaction + enrich together, resume-exact") {
    // every continuous-operation feature ON at once — the interaction
    // surface no single-feature spec covers: re-crawl TTL ages successes
    // AND exhausted failures, the retry budget gates per-epoch attempts,
    // both compactions fold mid-run, enrichment widens the bucketed
    // extracted schema
    val nSoak = 40L
    val ttl = 3
    val soakCorpus = PageSynth.pages(nSoak)
    val missing = (0 until 3).map(i =>
      graft.model.Seed(s"https://missing.example/doc$i", 0, PageSynth.warcTs(0)))
    val cfg = CrawlConfig(
      budget = 1000, seenPartitions = 8, expectedPerSegment = 4096,
      maxDepth = 0, enrich = true, maxAttempts = 2, recrawlAfterTicks = ttl,
      seenCompactEvery = 3, lakeCompactEvery = 4)
    def mkDriver(root: String): CrawlDriver = {
      val lake = CrawlLake.forCrawl(root, spark, buckets = 8, enrich = true)
      new CrawlDriver(spark, lake,
        spark.createDataFrame(soakCorpus.map(_.page)),
        spark.createDataset(Seq.empty[graft.model.RobotsEntry]), cfg)
    }
    def lineage(d: CrawlDriver) = d.fetchLog
      .select("url_hash", "batch_id", "status").as[(Long, Long, Int)]
      .collect().sortBy(r => (r._1, r._2)).toVector

    // run A: straight through 12 ticks
    val rootA = Files.createTempDirectory("graft-soak-a").toString
    val a = mkDriver(rootA)
    a.init((0L until nSoak).map(i =>
      graft.model.Seed(PageSynth.url(i), 0, PageSynth.warcTs(0))) ++ missing)
    val statsA = a.run(12)
    assert(statsA.size == 12)

    val byUrl = lineage(a).groupBy(_._1)
    val missingHashes = missing.map(s => UrlCanonicalizer.urlHash(s.url)).toSet
    byUrl.foreach { case (h, rows) =>
      if (missingHashes(h)) {
        // never succeeds: an initial maxAttempts burst, then at most one
        // probe per TTL window (re-aged failures), never hammered
        assert(rows.forall(_._3 == 404))
        assert(rows.length >= cfg.maxAttempts)
        assert(rows.length <= cfg.maxAttempts + 12 / ttl + 1, rows.mkString(","))
      } else {
        // only successes, re-fetched no sooner than the TTL
        assert(rows.forall(_._3 == 200))
        rows.map(_._2).sliding(2).foreach {
          case Vector(b1, b2) => assert(b2 - b1 >= ttl, s"url $h refetched at $b1 -> $b2")
          case _ => ()
        }
      }
    }
    // current view: exactly one row per fetched url, from its last batch
    val latest = a.latestExtracted.select("url_hash", "batch_id")
      .as[(Long, Long)].collect().toMap
    val lastSuccess = byUrl.collect {
      case (h, rows) if rows.exists(_._3 == 200) => h -> rows.filter(_._3 == 200).map(_._2).max
    }
    assert(latest == lastSuccess)
    // enrichment columns survived the bucketed write
    val enriched = a.extractedFull
    assert(Seq("simhash", "minhash_band0", "fingerprint", "quality")
      .forall(enriched.columns.contains), enriched.columns.mkString(","))

    // run B: kill after 6 ticks, resume with a FRESH driver (fresh-JVM
    // path over the same lake), 6 more — must be bit-identical to run A
    val rootB = Files.createTempDirectory("graft-soak-b").toString
    val b1 = mkDriver(rootB)
    b1.init((0L until nSoak).map(i =>
      graft.model.Seed(PageSynth.url(i), 0, PageSynth.warcTs(0))) ++ missing)
    b1.run(6)
    val b2 = mkDriver(rootB)
    b2.run(6)
    assert(lineage(b2) == lineage(a), "kill-and-resume soak must equal straight-through")
  }

  test("tick stats are coherent and lineage covers every schedule") {
    val cfg = CrawlConfig(budget = 2, seenPartitions = 8, expectedPerSegment = 4096)
    val (driver, _) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 3))
    val stats = driver.run(3)
    stats.foreach { s =>
      assert(s.scheduled == s.fetched + s.failed)
    }
    val logCount = driver.fetchLog.count()
    assert(logCount == stats.map(_.scheduled).sum)
    assert(driver.extracted.count() == stats.map(_.fetched).sum)

    // discovered = every link the tick's fetched pages hold, recounted from
    // the lineage: status-200 fetch_log rows joined back to the corpus
    val pagesKeyed = spark.createDataFrame(corpus.map(_.page))
      .select(graft.functions.GraftFunctions.url_hash64($"url").as("url_hash"), $"html")
    val linksPerTick = driver.fetchLog.where($"status" === 200)
      .join(pagesKeyed, Seq("url_hash"))
      .groupBy("batch_id")
      .agg(sum(size(graft.functions.GraftFunctions
        .extract_page($"html", $"url", cfg.blockCap, false).getField("links"))).cast("long"))
      .as[(Long, Long)].collect().toMap
    stats.foreach { s =>
      assert(s.discovered == linksPerTick.getOrElse(s.batchId, 0L), s"tick ${s.batchId}: $s")
    }
    assert(stats.exists(_.discovered > 0), stats)
  }

  test("the driver accepts only the crawl lake layout matching its enrich setting") {
    val pagesDf = spark.createDataFrame(corpus.map(_.page))
    val robotsDs = spark.createDataset(Seq.empty[graft.model.RobotsEntry])
    def construct(lake: CrawlLake, enrich: Boolean): Unit = {
      new CrawlDriver(spark, lake, pagesDf, robotsDs, CrawlConfig(enrich = enrich)); ()
    }
    def tmp(): String = Files.createTempDirectory("graft-layout").toString
    val mismatches = Seq(
      "enrich over a plain crawl lake" -> (() =>
        construct(CrawlLake.forCrawl(tmp(), spark, buckets = 8), enrich = true)),
      "no enrich over an enriched crawl lake" -> (() =>
        construct(CrawlLake.forCrawl(tmp(), spark, buckets = 8, enrich = true), enrich = false)),
      "a lake with no tables" -> (() => construct(new CrawlLake(tmp(), spark, Map.empty), enrich = false)))
    mismatches.foreach { case (what, build) =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains("CrawlLake.forCrawl"), s"$what: ${e.getMessage}")
    }
    // the matching layouts construct
    construct(CrawlLake.forCrawl(tmp(), spark, buckets = 8), enrich = false)
    construct(CrawlLake.forCrawl(tmp(), spark, buckets = 8, enrich = true), enrich = true)
  }

  test("seen confirm join reads the bucketed frontier with no exchange on its side") {
    // the tick's exact confirm anti-joins the probed candidates against the
    // frontier; with broadcasts off it is a sort-merge join whose frontier
    // side is the bucketed scan itself — only the candidates shuffle
    val cfg = CrawlConfig(budget = 2, seenPartitions = 8, expectedPerSegment = 4096)
    val (driver, lake) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 3))
    driver.run(2)
    val candidates = spark.createDataset((0L until N).map { i =>
      val u = UrlCanonicalizer.canonicalize(PageSynth.url(i))
      graft.model.FrontierEntry(UrlCanonicalizer.urlHash(u), u, UrlCanonicalizer.host(u),
        1, ReferenceSimulator.tickTs(3), i, 0L, 1.0)
    })
    val segments = lake.read(
      "seen", org.apache.spark.sql.Encoders.product[graft.seen.SeenSet.Segment].schema)
      .as[graft.seen.SeenSet.Segment]
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fresh = graft.seen.SeenSet.filterNew(
        candidates, segments, driver.frontier.select("url_hash"), cfg.seenPartitions)
      val plan = fresh.queryExecution.executedPlan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      val smjs = PlanWalk.collect(plan) { case j: SortMergeJoinExec => j }
      assert(smjs.size == 1, plan)
      val frontierSide = smjs.head.right
      assert(frontierSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"the frontier side of the confirm join shuffles:\n$plan")
      val scans = frontierSide.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty && scans.forall(_.bucketedScan), s"want a bucketed frontier scan:\n$plan")
      assert(smjs.head.left.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
        s"the probe side should be the one that exchanges:\n$plan")
      val exact = graft.seen.SeenSet.filterNewExact(candidates, driver.frontier.select("url_hash"))
      assert(fresh.map(_.url_hash).collect().toSet == exact.map(_.url_hash).collect().toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("a crashed attempt's partitions of an empty tick's batch never become visible") {
    // crawl until the next tick is empty, then plant a copy of a committed
    // partition of every bucketed table under that next batch id, as a
    // crash after the writes but before the manifest flip leaves it
    val cfg = CrawlConfig(budget = 1000, seenPartitions = 8, expectedPerSegment = 4096, maxDepth = 0)
    val (driver, lake) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 10))
    val stats = driver.run(10)
    assert(stats.last.scheduled == 0L && stats.exists(_.fetched > 0), stats)
    def counts(d: CrawlDriver): Seq[Long] =
      Seq(d.frontier.count(), d.fetchLog.count(), d.extracted.count())
    val committed = counts(driver)
    val next = stats.last.batchId + 1
    val tables = lake.bucketed.keys.toSeq.sorted
    tables.foreach(t => plant(lake, t, from = lake.partitionIds(t).max, to = next))
    // a fresh lake object over the same root registers the planted partitions
    val reopened = CrawlLake.forCrawl(lake.root, spark, buckets = 8)
    tables.foreach(t => assert(reopened.partitionIds(t).contains(next), t))
    val resumed = new CrawlDriver(
      spark, reopened, spark.createDataFrame(corpus.map(_.page)),
      spark.createDataset(robotsEntries), cfg)
    val s = resumed.tick()
    assert(s.batchId == next && s.scheduled == 0L, s)
    assert(counts(resumed) == committed)
    tables.foreach(t => assert(!reopened.partitionIds(t).contains(next), t))
  }

  test("a crashed seen replace's partition never becomes visible; its retry reclaims it") {
    // stop before the tick that merges `seen`, then plant a copy of a
    // committed `seen` partition as that replace's compaction partition, as
    // a crash after its write but before its manifest leaves it
    val cfg = CrawlConfig(budget = 2, seenPartitions = 8, expectedPerSegment = 4096, seenCompactEvery = 3)
    val (driver, lake) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 3))
    driver.run(2)
    val committed = seenRows(lake)
    val next = lake.latestSnapshotId.get + 1
    val planted = plant(lake, "seen", from = lake.partitionIds("seen").max, to = -next)
    val reopened = CrawlLake.forCrawl(lake.root, spark, buckets = 8)
    assert(reopened.partitionIds("seen").contains(-next))
    assert(seenRows(reopened) == committed)
    val resumed = new CrawlDriver(
      spark, reopened, spark.createDataFrame(corpus.map(_.page)),
      spark.createDataset(robotsEntries), cfg)
    resumed.run(3) // tick 3 retries the replace at snapshot `next`
    assert(reopened.compactMeta(next).get("seen").contains((next, 3L)))
    assert(engineOrder(resumed) == simOrder(budget = 2, ticks = 5))
    assert(resumed.frontier.select("url_hash").as[Long].collect().toSet == simResult(2, 5).seenHashes)
    // the retry dropped the planted files before it wrote its own
    val rewritten = scala.util.Using.resource(
      Files.list(Paths.get(lake.root, "bucketed", "seen", s"_pbatch=-$next")))(_.iterator().asScala
      .map(_.getFileName).toSet)
    assert(rewritten.nonEmpty && rewritten.intersect(planted).isEmpty, rewritten)
    assertStorageTight(reopened)
  }

  test("a crashed compaction's partitions never become visible; the next compaction reclaims them") {
    // tick 4 replaces all four tables (both cadences due). Plant a copy of a
    // committed partition of every table as snapshot `next`'s compaction
    // partition, as a commit that crashed after its writes but before its
    // manifest leaves it. Stopped after tick 3, the resumed tick 4 retries
    // that replace at snapshot `next`; stopped after tick 2, a plain tick 3
    // lands on snapshot `next` and tick 4's replace reclaims the planted
    // partitions
    val cfg = CrawlConfig(
      budget = 2, seenPartitions = 8, expectedPerSegment = 4096, seenCompactEvery = 4, lakeCompactEvery = 4)
    for (stopAfter <- Seq(3, 2)) {
      val (driver, lake) = newDriver(cfg)
      driver.init(PageSynth.seeds(N, 3))
      driver.run(stopAfter)
      def state(d: CrawlDriver, l: CrawlLake) =
        (d.frontier.count(), d.fetchLog.count(), d.extracted.count(), seenRows(l))
      val committed = state(driver, lake)
      val next = lake.latestSnapshotId.get + 1
      val tables = lake.bucketed.keys.toSeq.sorted
      val planted = tables.map(t => t -> plant(lake, t, from = lake.partitionIds(t).max, to = -next)).toMap
      val reopened = CrawlLake.forCrawl(lake.root, spark, buckets = 8)
      tables.foreach(t => assert(reopened.partitionIds(t).contains(-next), t))
      val resumed = new CrawlDriver(
        spark, reopened, spark.createDataFrame(corpus.map(_.page)),
        spark.createDataset(robotsEntries), cfg)
      assert(state(resumed, reopened) == committed)
      assert(resumed.tick().batchId == stopAfter + 1L && reopened.latestSnapshotId.contains(next))
      if (stopAfter == 2) {
        tables.foreach(t => assert(reopened.partitionIds(t).contains(-next), t))
        assert(engineOrder(resumed) == simOrder(budget = 2, ticks = 3))
      } else tables.foreach(t => assert(reopened.compactMeta(next).get(t).contains((next, next)), t))
      resumed.run(4 - stopAfter)
      assert(engineOrder(resumed) == simOrder(budget = 2, ticks = 5), s"stopped after $stopAfter")
      assert(resumed.frontier.select("url_hash").as[Long].collect().toSet == simResult(2, 5).seenHashes)
      // no planted file is left: a retried write drops its partition before
      // it writes, and a replace drops the negative partitions it supersedes
      tables.foreach { t =>
        val dir = Paths.get(lake.root, "bucketed", t, s"_pbatch=-$next")
        val left = if (!Files.exists(dir)) Set.empty[Path]
          else scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.map(_.getFileName).toSet)
        assert(left.intersect(planted(t)).isEmpty, s"$t after a stop at $stopAfter: $left")
      }
      assertStorageTight(reopened)
    }
  }

  test("a replace that crashed after its publish leaves its superseded partitions to the next replace") {
    // both cadences are 2, so tick 4 replaces every table, superseding a
    // tick partition and tick 2's compaction partition of each. Copy them
    // aside before tick 4 and restore them after it, as a crash between the
    // manifest flip and the drops leaves them
    val cfg = CrawlConfig(
      budget = 2, seenPartitions = 8, expectedPerSegment = 4096, seenCompactEvery = 2, lakeCompactEvery = 2)
    val (driver, lake) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 3))
    driver.run(3)
    val tables = lake.bucketed.keys.toSeq.sorted
    val aside = Files.createTempDirectory("graft-superseded")
    def copyTree(from: Path, to: Path): Unit = // skips what is already there
      scala.util.Using.resource(Files.walk(from))(_.iterator().asScala.foreach { f =>
        val dst = to.resolve(from.relativize(f).toString)
        if (!Files.exists(dst)) Files.copy(f, dst)
      })
    val superseded = tables.map(t => t -> lake.partitionIds(t).toSet).toMap
    assert(superseded.values.forall(_.exists(_ < 0)), superseded)
    tables.foreach(t => copyTree(Paths.get(lake.root, "bucketed", t), aside.resolve(t)))
    assert(driver.tick().batchId == 4L)
    def state(d: CrawlDriver, l: CrawlLake) =
      (engineOrder(d), d.frontier.count(), d.extracted.count(), seenRows(l))
    val published = state(driver, lake)
    tables.foreach(t => superseded(t).foreach { p =>
      copyTree(aside.resolve(t).resolve(s"_pbatch=$p"), Paths.get(lake.root, "bucketed", t, s"_pbatch=$p"))
    })
    val reopened = CrawlLake.forCrawl(lake.root, spark, buckets = 8)
    tables.foreach(t => assert(superseded(t).subsetOf(reopened.partitionIds(t).toSet), t))
    val resumed = new CrawlDriver(
      spark, reopened, spark.createDataFrame(corpus.map(_.page)),
      spark.createDataset(robotsEntries), cfg)
    assert(state(resumed, reopened) == published)
    assert(resumed.run(2).forall(_.scheduled > 0)) // tick 6 replaces every table again
    assert(engineOrder(resumed) == simOrder(budget = 2, ticks = 6))
    assert(resumed.frontier.select("url_hash").as[Long].collect().toSet == simResult(2, 6).seenHashes)
    assertStorageTight(reopened)
  }

  test("resuming with a different seenPartitions fails fast (seen-geometry drift guard)") {
    // round-5 review: segments are keyed by pmod(url_hash, P); resuming
    // with a grown P passed every range check and silently readmitted
    // already-seen URLs (candidates cogrouped with the wrong segment)
    val root = Files.createTempDirectory("graft-pdrift").toString
    val pagesDf = spark.createDataFrame(corpus.map(_.page))
    val robotsDs = spark.createDataset(robotsEntries)
    def mk(p: Int) = new CrawlDriver(
      spark, CrawlLake.forCrawl(root, spark, buckets = 8), pagesDf, robotsDs,
      CrawlConfig(budget = 2, seenPartitions = p, expectedPerSegment = 4096, seenCompactEvery = 2))
    def assertGuardFires(): Unit = {
      val e = intercept[IllegalArgumentException](mk(16))
      assert(e.getMessage.contains("seenPartitions=8"))
    }
    mk(8).init(PageSynth.seeds(N, 3))
    // a record of P in a side file written after the commit is lost by a
    // crash between the two: delete every file directly under the lake
    // root, so the guard has only the committed snapshot to read
    val rootFiles = scala.util.Using.resource(Files.list(java.nio.file.Paths.get(root)))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).toVector)
    rootFiles.foreach(Files.delete)
    assertGuardFires()
    assert(rootFiles.isEmpty, s"init wrote crawl state outside the snapshot: $rootFiles")

    // the same P resumes; batch 2 folds the delta lists (seen compaction),
    // then every bucketed table is compacted: the guard still fires
    assert(mk(8).run(2).forall(_.scheduled > 0))
    val lake = CrawlLake.forCrawl(root, spark, buckets = 8)
    assert(lake.partitionIds("seen").size == 1)
    lake.bucketed.keys.toSeq.sorted.foreach(lake.compactBucketed)
    assertGuardFires()
    assert(mk(8).tick().scheduled > 0)
  }

  test("frontierSince: admission delta == key-set diff; expired base throws, never lies") {
    val cfg = CrawlConfig(budget = 2, seenPartitions = 8, expectedPerSegment = 4096)
    val (driver, lake) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 3))
    driver.run(2)
    val snap = lake.latestSnapshotId.get
    val atSnap = driver.frontier.select("url_hash").as[Long].collect().toSet
    driver.run(2)
    val full = driver.frontier.select("url_hash").as[Long].collect().toSet
    val delta = driver.frontierSince(snap).select("url_hash").as[Long].collect().toSet
    assert(delta.nonEmpty && delta == full -- atSnap)
    // after a frontier compaction the base snapshot is expired: the delta
    // must fail loudly (expired time travel), never return a wrong set
    lake.compactBucketed("frontier")
    intercept[IllegalStateException](driver.frontierSince(snap).count())
  }

  test("extractedSince: CDC delta == full-diff, across lake compaction and TTL re-extractions") {
    // TTL re-extracts pages (multiple rows per url_hash at different
    // batches) and lakeCompactEvery folds the tick partitions that carried
    // the early rows — the delta must still be exactly full ∖ snapshot
    val cfg = CrawlConfig(
      budget = 1000, seenPartitions = 8, expectedPerSegment = 4096,
      maxDepth = 0, recrawlAfterTicks = 2, lakeCompactEvery = 3)
    val (driver, lake) = newDriver(cfg)
    driver.init(PageSynth.seeds(N, 40))
    driver.run(3)
    val snap = lake.latestSnapshotId.get
    // capture the snapshot's row set NOW — later compactions reclaim the
    // physical partitions, so this is not re-derivable afterwards
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("url_hash", "batch_id").as[(Long, Long)].collect().toSet
    val atSnap = rows(driver.extracted)
    driver.run(5) // crosses compactions at batch 3 and 6
    val full = rows(driver.extracted)
    val delta = rows(driver.extractedSince(snap))
    assert(delta.nonEmpty, "TTL re-extraction must have produced new rows")
    assert(delta == full -- atSnap, "delta view must equal the set difference")
    // pinned upper bound: the same delta when until = latest explicitly
    assert(rows(driver.extractedSince(snap, lake.latestSnapshotId)) == delta)
    // consumers join the delta on url_hash with no Exchange on the lake side
    assert(delta.map(_._1).subsetOf(full.map(_._1)))
  }

  test("url scope: out-of-scope discovered links never enter frontier or fetch log") {
    val cfg0 = CrawlConfig(budget = 3, seenPartitions = 8, expectedPerSegment = 4096)
    val seeds = PageSynth.seeds(N, 3)
    val seedHosts = seeds.map(s => UrlCanonicalizer.host(UrlCanonicalizer.canonicalize(s.url))).toSet

    // pick a host the unscoped crawl discovers but that seeds no crawl
    val (base, baseLake) = newDriver(cfg0)
    val victim =
      try {
        base.init(seeds)
        base.run(3)
        base.frontier.select("host").as[String].collect().toSet
          .diff(seedHosts).minOption
          .getOrElse(fail("unscoped crawl discovered no non-seed host"))
      } finally { base.close(); baseLake.drop() }

    val rules = graft.operators.UrlScope.Rules(blockedHostSuffixes = Set(victim))
    val (driver, lake) = newDriver(cfg0.copy(scope = Some(rules)))
    try {
      driver.init(seeds)
      driver.run(3)
      val frontierHosts = driver.frontier.select("host").as[String].collect()
      assert(!frontierHosts.contains(victim), s"blocked host $victim reached the frontier")
      val fetched = driver.fetchLog.select("url").as[String].collect()
      assert(!fetched.exists(u => UrlCanonicalizer.host(u) == victim),
        s"blocked host $victim was fetched")
      // the gate is a filter, not a rewrite: every surviving frontier row
      // passes the rules
      val inScope = driver.frontier
        .where(!graft.operators.UrlScope.inScope(col("url"), rules))
        .count()
      assert(inScope == 0L)
    } finally { driver.close(); lake.drop() }
  }
}
