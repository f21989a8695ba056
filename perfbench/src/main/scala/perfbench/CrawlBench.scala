package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.crawl.{CrawlConfig, CrawlDriver, TickStats}
import graft.functions.GraftFunctions.{extract_page, link_identity, url_hash64}
import graft.lake.CrawlLake
import graft.model.{FrontierEntry, RobotsEntry, Seed}
import graft.operators.{Politeness, RobotsFilter}
import graft.seen.{SeenSegments, SeenSet}
import graft.sim.ReferenceSimulator
import graft.synth.PageSynth

/** crawl-discover, driven only through the engine's public API: one
  * closed-loop crawl with one client (a tick starts after the previous
  * commit) from 64 seeds, with robots rules, enrichment, a cogroup seen
  * probe, seen and lake compaction and a mid-crawl resume. The per-host
  * budget caps every tick once the frontier has grown, so the ticks after
  * the first few do similar work: frontier growth, politeness over megahost
  * skew, discovery and dedup, a seen filter that rejects more each tick,
  * fetch, extract, enrich and commit.
  *
  * The crawl warms up for a fixed number of ticks (charged to set-up); the
  * ticks after that are timed. One op is one tick. */
final class CrawlBench(run: RunContext) {
  import CrawlBench.{Tick, UntracedTicks, WarmTicks}
  import Main._

  private val p = run.params
  private val n = p.long("pages")
  private val resumeAfter = p.int("resume_after")
  private val synth = PageSynth.Config(
    seed = run.seed, nHosts = p.int("hosts"), megaPct = p.int("mega_pct"),
    minLines = p.int("min_lines"), extraLines = p.int("extra_lines"))
  private val seedList: Vector[Seed] = PageSynth.seeds(n, p.int("seeds"), synth)
  private val robots: Seq[RobotsEntry] = PageSynth.robots()
  private val corpusDir = run.work.resolve("pages")

  private val cfg = CrawlConfig(
    budget = p.int("budget"),
    blockCap = p.int("block_cap"),
    seenPartitions = p.int("seen_partitions"),
    expectedPerSegment = p.long("expected_per_segment"),
    // the traced run reads the per-tick counts; the timed run skips them
    collectStats = run.trace,
    enrich = true,
    seenBroadcastMaxBytes = p.long("seen_broadcast_max_bytes"),
    seenCompactEvery = p.int("seen_compact_every"),
    lakeCompactEvery = p.int("lake_compact_every"))

  private final class Env(val spark: SparkSession, val cores: Int) {
    val pages: DataFrame = spark.read.parquet(corpusDir.toString)
    val robotsDs: Dataset[RobotsEntry] = spark.createDataset(robots)(Encoders.product[RobotsEntry])
  }

  /** The timed run crawls at local[4]. The traced run crawls at local[4]
    * (untraced ticks, then traced ticks with layer replays) and again at
    * local[1] (untraced ticks, then traced ticks without replays) for the
    * scaling pair. */
  def run(): Unit = {
    val rate = mutable.Map.empty[Int, Double]
    (if (run.trace) Cores else Cores.take(1)).foreach { cores =>
      val t0 = System.nanoTime()
      val spark = session(cores, run.work)
      try {
        if (!Files.exists(corpusDir.resolve("_SUCCESS"))) writeCorpus(spark)
        log(s"local[$cores] session and corpus ready")
        val env = new Env(spark, cores)
        if (run.trace) rate(cores) = traced(env)
        else timed(env, secs(t0))
      } finally spark.stop()
    }
    if (run.trace) run.metrics("crawl.scaling_eff") = rate(4) / (4 * rate(1))
  }

  private def writeCorpus(spark: SparkSession): Unit = {
    import spark.implicits._
    val (cfg, pages) = (synth, n)
    spark.range(0L, pages, 1L, spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(i => PageSynth.synthPage(i, pages, cfg).page))
      .write.parquet(corpusDir.toString)
  }

  /** After the warm-up, ticks are timed until `--seconds` of tick time is
    * measured and at least one timed tick has compacted. */
  private def timed(env: Env, sessionS: Double): Unit = {
    def phase(ticks: Seq[Tick]): Option[String] = {
      val t = ticks.filter(_.phase == "timed")
      if (t.map(_.seconds).sum >= run.seconds && t.exists(x => compacts(x.batch))) None else Some("timed")
    }
    crawl(env, phase, inspect = (d, root) => { checks(env)(d, root); lakeSize(d, root) })
      .foreach { case (setupS, ticks, _) =>
        val t = ticks.filter(_.phase == "timed")
        run.metrics("items_per_s") = median(t.map(_.rate))
        run.metrics("op_p50_s") = median(t.map(_.seconds))
        run.metrics("setup_s") = run.launchS + sessionS + setupS
        run.summary("urls_per_s") = t.map(_.stats.fetched).sum / t.map(_.seconds).sum
        run.summary("tick_p50_s") = run.metrics("op_p50_s")
        run.summary("compact_tick_p50_s") = median(t.filter(x => compacts(x.batch)).map(_.seconds))
        run.summary("timed_ticks") = t.size.toDouble
      }
  }

  /** Trace mode at one level; returns the level's untraced URL rate for the
    * scaling pair. After the warm-up, `UntracedTicks` ticks run with no
    * listener attached (the overhead baseline); then the trace is attached
    * and ticks run in `crawl.tick_s` spans. At local[4] each traced tick is
    * preceded by a replay of its layer calls, and traced ticks run until
    * one has compacted; at local[1] one traced tick runs. Per-tick figures
    * and the overhead are taken over ticks that do not compact on both
    * sides; the compacting tick gives `crawl.compact_tick_p50_s`. */
  private def traced(env: Env): Double = {
    val main = env.cores == Cores.head
    def phase(ticks: Seq[Tick]): Option[String] =
      if (ticks.count(_.phase == "untraced") < UntracedTicks) Some("untraced")
      else if (ticks.exists(t => t.phase == "traced" && (compacts(t.batch) || !main))) None
      else Some("traced")
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val (_, ticks, trace) = crawl(env, phase, if (main) Some(layers) else None,
      (d, root) => { checks(env)(d, root); if (main) lakeSize(d, root) })
      .getOrElse((0.0, Vector.empty[Tick], None))
    def plainRate(ph: String): Double =
      median(ticks.filter(t => t.phase == ph && !compacts(t.batch)).map(_.rate))
    val untracedRate = plainRate("untraced")
    trace.foreach { tr =>
      tr.settle()
      val st = tr.spansNamed("crawl.tick_s").zip(ticks.filter(_.phase == "traced"))
        .collect { case (span, t) if !compacts(t.batch) => tr.stats(span) }
      def med(f: Trace.SpanStats => Double): Double = median(st.map(f))
      val busy = med(s => s.busyS / (s.wallS * env.cores))
      val driverOnly = med(s => s.wallS - s.taskUnionS)
      if (main) {
        val measured = ticks.filter(_.phase != "warmup")
        run.metrics("trace.items_per_s_untraced") = untracedRate
        run.metrics("trace.items_per_s_traced") = plainRate("traced")
        run.metrics("crawl.compact_tick_p50_s") =
          median(ticks.filter(t => t.phase == "traced" && compacts(t.batch)).map(_.seconds))
        run.metrics("crawl.tick_s") = med(_.wallS)
        run.metrics("crawl.jobs_per_tick") = med(_.jobs.toDouble)
        run.metrics("crawl.stages_per_tick") = med(_.stages.toDouble)
        run.metrics("crawl.tasks_per_tick") = med(_.tasks.toDouble)
        run.metrics("crawl.shuffle_write_bytes_per_tick") = med(_.shuffleWriteBytes.toDouble)
        run.metrics("crawl.spill_bytes_per_tick") = med(_.spillBytes.toDouble)
        run.metrics("crawl.gc_s_per_tick") = med(_.gcS)
        run.metrics("crawl.busy_share") = busy
        run.metrics("crawl.driver_only_s") = driverOnly
        run.metrics("crawl.scheduled") = measured.map(_.stats.scheduled).sum.toDouble
        run.metrics("crawl.fetched") = measured.map(_.stats.fetched).sum.toDouble
        run.metrics("crawl.failed") = measured.map(_.stats.failed).sum.toDouble
        run.metrics("crawl.discovered") = measured.map(_.stats.discovered).sum.toDouble
        run.metrics("crawl.admitted_new") = measured.map(_.stats.admittedNew).sum.toDouble
        layerMetrics(tr, layers.toSeq)
      } else {
        run.metrics("crawl.busy_share_serial") = busy
        run.metrics("crawl.driver_only_s_serial") = driverOnly
      }
      tr.close(run.traceFile(s"local${env.cores}"))
    }
    untracedRate
  }

  private def compacts(b: Long): Boolean =
    (cfg.seenCompactEvery > 0 && b % cfg.seenCompactEvery == 0) ||
      (cfg.lakeCompactEvery > 0 && b % cfg.lakeCompactEvery == 0)

  /** One crawl on a fresh lake: `WarmTicks` warm-up ticks, then ticks in the
    * phase `phase` gives for the ticks so far, until it gives None. The
    * first "traced" tick attaches a [[Trace]]; traced ticks run in
    * `crawl.tick_s` spans, each preceded by a layer replay when `layers` is
    * given. A resume (close the driver, reopen lake and driver on the same
    * root) is timed as part of the tick after it. Returns the set-up time
    * (init + warm-up ticks), every tick and the trace, or None when a tick
    * fails or the crawl drains early. */
  private def crawl(
      env: Env,
      phase: Seq[Tick] => Option[String],
      layers: Option[mutable.ArrayBuffer[Map[String, Double]]] = None,
      inspect: (CrawlDriver, Path) => Unit): Option[(Double, Vector[Tick], Option[Trace])] = {
    val root = Files.createTempDirectory(run.work, "lake-").toString
    var lake = CrawlLake.forCrawl(root, env.spark, buckets = env.cores, enrich = true)
    var driver = new CrawlDriver(env.spark, lake, env.pages, env.robotsDs, cfg)
    val ticks = mutable.ArrayBuffer.empty[Tick]
    var tr: Option[Trace] = None
    try {
      val t0 = System.nanoTime()
      driver.init(seedList)
      val initS = secs(t0)
      var setupS = initS
      var ok = true
      var next = Option("warmup")
      while (ok && next.isDefined) {
        val ph = next.get
        run.attempted += 1
        try {
          if (ph == "traced" && tr.isEmpty)
            tr = Some(new Trace(env.spark, s"${run.workload}-${run.seed}-local${env.cores}"))
          if (ph == "traced") layers.foreach(_ += replay(env, driver, lake, root, tr.get))
          val t = System.nanoTime()
          val c0 = cpuS
          if (ticks.size == resumeAfter) {
            driver.close()
            lake = CrawlLake.forCrawl(root, env.spark, buckets = env.cores, enrich = true)
            driver = new CrawlDriver(env.spark, lake, env.pages, env.robotsDs, cfg)
          }
          val s = if (ph == "traced") tr.get.span("crawl.tick_s")(driver.tick()) else driver.tick()
          val tick = Tick(ph, s.batchId, secs(t), cpuS - c0, s)
          if (ph == "warmup") setupS += tick.seconds
          if (s.scheduled == 0L) throw new IllegalStateException("the crawl drained; raise `pages`")
          ticks += tick
          log(f"local[${env.cores}] $ph tick ${s.batchId} ${tick.seconds}%.2fs scheduled ${s.scheduled}")
          next = if (ticks.size < WarmTicks) Some("warmup") else phase(ticks.toSeq)
        } catch {
          case e: Exception =>
            log(s"tick ${ticks.size + 1} failed at local[${env.cores}]: $e")
            run.failed += 1
            ok = false
        }
      }
      run.reps += Map("cores" -> env.cores, "ok" -> ok, "init_s" -> initS,
        "ticks" -> ticks.map(t => Map("phase" -> t.phase, "batch" -> t.batch, "seconds" -> t.seconds,
          "cpu_s" -> t.cpuS, "scheduled" -> t.stats.scheduled)).toSeq)
      if (ok) {
        inspect(driver, Paths.get(root))
        log(s"local[${env.cores}] checks done")
        Some((setupS, ticks.toVector, tr))
      } else {
        tr.foreach(_.close(run.traceFile(s"local${env.cores}")))
        None
      }
    } finally {
      driver.close()
      lake.drop()
    }
  }

  // ---- correctness -------------------------------------------------------

  /** The sequential reference crawl on the same seeds, robots, budget and
    * tick count (html bytes are dropped: the reference reads url, text and
    * links only). */
  private lazy val corpus: IndexedSeq[PageSynth.SynthPage] = {
    val arr = new Array[PageSynth.SynthPage](n.toInt)
    java.util.stream.IntStream.range(0, n.toInt).parallel().forEach { i =>
      val sp = PageSynth.synthPage(i.toLong, n, synth)
      arr(i) = sp.copy(page = sp.page.copy(html = Array.emptyByteArray))
    }
    arr.toIndexedSeq
  }

  private def reference(ticks: Int): ReferenceSimulator.SimResult =
    ReferenceSimulator.crawl(corpus, seedList.map(_.url), cfg.budget, ticks,
      robots.map(e => e.host -> e).toMap)

  private def checks(env: Env)(driver: CrawlDriver, root: Path): Unit = {
    import env.spark.implicits._
    val ticks = driver.fetchLog.select(max("batch_id")).head().getLong(0).toInt
    val reference = this.reference(ticks)
    run.check("crawl_order", env.cores) {
      driver.crawlOrder().select("batch_id", "url_hash", "status").as[(Long, Long, Int)].collect().toVector ==
        reference.crawlOrder.map(r => (r.batchId, r.urlHash, r.status))
    }
    run.check("seen_set", env.cores) {
      driver.frontier.select("url_hash").as[Long].collect().toSet == reference.seenHashes
    }
    run.check("extracted_text", env.cores) {
      driver.extracted.select("url_hash", "extracted_text").as[(Long, String)].collect().toMap ==
        reference.extractedTexts
    }
  }

  // ---- per-layer replay --------------------------------------------------

  /** Replays the coming tick's layer calls on the current lake state, each
    * in its own span, before the real tick runs. The commit and the lake
    * compaction replay into a scratch copy of the lake. */
  private def replay(
      env: Env, driver: CrawlDriver, lake: CrawlLake, root: String, tr: Trace): Map[String, Double] = {
    val spark = env.spark
    import spark.implicits._
    val c = cfg
    val b = lake.latestSnapshotId.map(id => lake.batchIdOf(id) + 1).get
    val ts = ReferenceSimulator.tickTs(b)
    val m = mutable.LinkedHashMap.empty[String, Double]

    val pending = driver.pendingAt(b)
    m("operators.pending_rows") = tr.span("lake.pending_scan_s")(pending.count()).toDouble
    val scheduled = tr.span("operators.schedule_s") {
      Politeness.schedule(RobotsFilter.filterAllowed(pending, env.robotsDs), c.budget).localCheckpoint(true)
    }
    val nSched = scheduled.count()
    m("operators.scheduled_rows") = nSched.toDouble
    if (nSched == 0L) return m.toMap
    m("operators.top_host_share") =
      scheduled.groupBy("host").count().agg(max("count")).head().getLong(0).toDouble / nSched

    val page = extract_page(col("html"), col("url"), c.blockCap)
    val fetch = env.pages.select(url_hash64(col("url")).as("url_hash"), col("html"))
      .join(scheduled, Seq("url_hash"))
      .select(col("url_hash"), col("url"), col("host"), col("depth"),
        length(col("html")).cast("long").as("bytes"),
        page.getField("doc").as("doc"), page.getField("links").as("links"))
    tr.span("functions.fetch_extract_s")(fetch.write.format("noop").mode("overwrite").save())
    val processed = fetch.localCheckpoint(true)
    val agg = processed.agg(count(lit(1)), coalesce(sum("bytes"), lit(0L)),
      coalesce(sum(size(col("links"))), lit(0L))).head()
    val fetched = agg.getLong(0)
    m("functions.html_bytes") = agg.getLong(1).toDouble
    m("functions.links_per_page") = agg.getLong(2).toDouble / math.max(1L, fetched)

    val text = col("doc.text")
    tr.span("ml.enrich_s") {
      val e = graft.ml.TextEnrichFunctions.enrich_doc(text)
      processed.select(e.getField("simhash"), e.getField("minhash_band0"), e.getField("fingerprint"),
        e.getField("quality"), e.getField("lang_id")).write.format("noop").mode("overwrite").save()
    }

    val candidates = tr.span("functions.discover_s") {
      val li = link_identity(col("link"))
      processed
        .select(col("url_hash").as("src_hash"), col("depth").as("src_depth"),
          posexplode(col("links")).as(Seq("seq_in_page", "link")))
        .select(li.getField("url_hash").as("url_hash"), li.getField("url").as("url"),
          li.getField("host").as("host"), (col("src_depth") + 1).as("depth"),
          lit(ts).as("discovery_ts"), col("seq_in_page").cast("long").as("seq_in_page"),
          col("src_hash"), (col("src_depth") + 1).cast("double").as("priority"))
        .groupBy(col("url_hash"))
        .agg(min_by(
          struct(col("url"), col("host"), col("depth"), col("discovery_ts"),
            col("seq_in_page"), col("src_hash"), col("priority")),
          struct(col("depth"), col("discovery_ts"), col("seq_in_page"), col("src_hash"))).as("w"))
        .select(col("url_hash"), col("w.*"))
        .as[FrontierEntry]
        .localCheckpoint(true)
    }

    val segments = lake.read("seen", Encoders.product[SeenSet.Segment].schema).as[SeenSet.Segment]
    val segs = segments.collect()
    val segBytes = segs.map(_.segment.length.toLong).sum
    val fresh = tr.span("seen.probe_s") {
      SeenSet.filterNew(candidates, segments, driver.frontier.select("url_hash"),
        c.seenPartitions, c.seenBroadcastMaxBytes).localCheckpoint(true)
    }
    val nCand = candidates.count()
    val admitted = fresh.count()
    val probes = segs.groupBy(_.partition_id)
      .map { case (pid, ss) => pid -> ss.map(s => SeenSegments.probeFn(s.segment)) }
    val positives = candidates.select("url_hash").as[Long].collect().count { h =>
      probes.getOrElse(Math.floorMod(h, c.seenPartitions.toLong).toInt, Array.empty[Long => Boolean])
        .exists(_(h))
    }
    val frontierRows = driver.frontier.count()
    m("seen.probe_path") = if (segBytes > c.seenBroadcastMaxBytes) 1.0 else 0.0
    m("seen.candidates") = nCand.toDouble
    m("seen.filter_positives") = positives.toDouble
    m("seen.admitted") = admitted.toDouble
    m("seen.admit_ratio") = admitted.toDouble / math.max(1L, nCand)
    m("seen.fpr") = (positives - (nCand - admitted)).toDouble / math.max(1L, admitted)
    m("seen.segment_bytes") = segBytes.toDouble
    m("seen.bytes_per_url") = segBytes.toDouble / math.max(1L, frontierRows)

    val delta = tr.span("seen.delta_s") {
      SeenSet.buildDeltaList(fresh.select("url_hash"), c.seenPartitions).localCheckpoint(true)
    }
    val seenCompact = c.seenCompactEvery > 0 && b % c.seenCompactEvery == 0
    val merged = if (!seenCompact) None else Some(tr.span("seen.merge_s") {
      SeenSet.mergeSegments(segments, delta, c.seenKind, c.expectedPerSegment).localCheckpoint(true)
    })

    val fetchRows = processed
      .select(col("url_hash"), col("url"), col("host"), lit(ts).as("fetch_ts"), lit(200).as("status"),
        col("bytes"), spark_partition_id().as("partition_id"), lit(b).as("batch_id"))
      .unionByName(scheduled.join(processed.select("url_hash"), Seq("url_hash"), "left_anti")
        .select(col("url_hash"), col("url"), col("host"), lit(ts).as("fetch_ts"), lit(404).as("status"),
          lit(0L).as("bytes"), spark_partition_id().as("partition_id"), lit(b).as("batch_id")))
    val base = processed.select(col("url_hash"), col("url"), lower(hex(col("url_hash"))).as("job_id"),
      col("doc.data").as("data"), text.as("extracted_text"), lit(ts).as("extract_ts"), lit(b).as("batch_id"))
    val enriched = graft.ml.TextEnrichFunctions.enrich_doc(col("extracted_text"))
    val extractedRows = Seq("simhash", "minhash_band0", "fingerprint", "quality", "lang_id")
      .foldLeft(base)((df, f) => df.withColumn(f, enriched.getField(f)))
    val copy = Files.createTempDirectory(run.work, "replay-")
    copyTree(Paths.get(root), copy)
    val scratch = CrawlLake.forCrawl(copy.toString, spark, buckets = env.cores, enrich = true)
    try {
      val (bytes0, files0) = dirStats(copy)
      tr.span("lake.commit_s") {
        scratch.commit(b,
          appends = Map("frontier" -> fresh.toDF(), "fetch_log" -> fetchRows, "extracted" -> extractedRows) ++
            (if (merged.isEmpty) Map("seen" -> delta.toDF()) else Map.empty[String, DataFrame]),
          replaces = merged.map(x => Map("seen" -> x.toDF())).getOrElse(Map.empty))
      }
      val (bytes1, files1) = dirStats(copy)
      m("lake.commit_bytes") = (bytes1 - bytes0).toDouble
      m("lake.commit_files") = (files1 - files0).toDouble
      val lakeEvery = c.lakeCompactEvery
      if (lakeEvery > 0 && b % lakeEvery == 0) {
        tr.span("lake.compact_s")(scratch.bucketed.keys.toSeq.sorted.foreach(scratch.compactBucketed))
        m("lake.compact_bytes_rewritten") = scratch.bucketed.keys.toSeq.map { t =>
          val dir = copy.resolve("bucketed").resolve(t)
          scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
            .filter(_.getFileName.toString.startsWith("_pbatch=-")).map(d => dirStats(d)._1).sum)
        }.sum.toDouble
      }
    } finally scratch.drop()
    m.toMap
  }

  private def layerMetrics(tr: Trace, ticks: Seq[Map[String, Double]]): Unit = {
    def spanMed(name: String): Double = median(tr.spansNamed(name).map(_.seconds))
    Seq("lake.pending_scan_s", "lake.commit_s", "lake.compact_s", "operators.schedule_s",
      "functions.fetch_extract_s", "functions.discover_s", "ml.enrich_s", "seen.probe_s",
      "seen.delta_s", "seen.merge_s").foreach(k => run.metrics(k) = spanMed(k))
    Seq("lake.commit_bytes", "lake.commit_files", "lake.compact_bytes_rewritten",
      "operators.pending_rows", "operators.scheduled_rows", "operators.top_host_share",
      "functions.links_per_page", "seen.probe_path", "seen.candidates", "seen.filter_positives",
      "seen.admitted", "seen.admit_ratio", "seen.fpr", "seen.segment_bytes", "seen.bytes_per_url")
      .foreach(k => run.metrics(k) = median(ticks.flatMap(_.get(k))))
    val fetchSpans = tr.spansNamed("functions.fetch_extract_s")
    run.metrics("functions.html_mb_per_s") =
      ticks.flatMap(_.get("functions.html_bytes")).sum / 1e6 / math.max(1e-9, fetchSpans.map(_.seconds).sum)
    run.metrics("operators.schedule_shuffle_bytes") =
      median(tr.spansNamed("operators.schedule_s").map(s => tr.stats(s).shuffleWriteBytes.toDouble))
  }

  /** Lake bytes on disk per fetched URL, after a full crawl. */
  private def lakeSize(driver: CrawlDriver, root: Path): Unit = {
    val perUrl = dirStats(root)._1.toDouble / math.max(1L, driver.fetchLog.count())
    if (run.trace) run.metrics("lake.bytes_per_url") = perUrl else run.summary("lake_bytes_per_url") = perUrl
  }

  private def dirStats(dir: Path): (Long, Long) =
    scala.util.Using.resource(Files.walk(dir)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc"))
        .foldLeft((0L, 0L)) { case ((bytes, files), f) =>
          (bytes + Files.size(f), files + (if (f.getFileName.toString.endsWith(".parquet")) 1 else 0))
        }
    }

  private def copyTree(from: Path, to: Path): Unit =
    scala.util.Using.resource(Files.walk(from)) { s =>
      s.iterator().asScala.foreach { src =>
        val dst = to.resolve(from.relativize(src).toString)
        if (Files.isDirectory(src)) Files.createDirectories(dst)
        else Files.copy(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
}

object CrawlBench {
  /** Warm-up ticks, charged to set-up: they span the early frontier growth,
    * the resume and the first seen compaction, after which the tick rate has
    * levelled off on the default parameters. */
  val WarmTicks = 4

  /** Untraced ticks of the traced run, before the trace is attached. */
  val UntracedTicks = 2

  /** One tick: its phase (warmup, timed or traced), batch, wall time, the
    * CPU time the JVM used meanwhile, and stats. */
  final case class Tick(phase: String, batch: Long, seconds: Double, cpuS: Double, stats: TickStats) {
    def rate: Double = stats.fetched / seconds
  }
}
