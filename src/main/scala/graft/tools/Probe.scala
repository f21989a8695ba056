package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.immutable.ListMap
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.crawl.{CrawlConfig, CrawlDriver}
import graft.lake.CrawlLake
import graft.model.{FrontierEntry, RobotsEntry, Seed}
import graft.seen.SeenSet
import graft.synth.PageSynth
import graft.util.CodegenWatch

/** The engine's measurement entry point: one main, one session builder,
  * one timer and one JSON-line writer for every standalone measurement.
  * The frozen [[graft.Bench]] stays the driver's artifact; `Probe` is for
  * measuring one thing in one fresh JVM.
  *
  * {{{
  * Probe crawl [nPages ticks budget minLines]
  * Probe queries <sfDir> [names|all] [runs] [noop|count] [planDir]
  * Probe demo [nPages budget ticks]
  * Probe seen [nKeys nCandidates partitions]
  * Probe lake-meta [nTicks]
  * }}}
  *
  * Any `key=value` argument is a session conf, applied on top of the
  * [[GraftSession]] defaults (e.g. `spark.local.dir=/dev/shm/spark-local`).
  * The session runs at `local[SPARK_GRAFT_CPUS]` (default 4) with as many
  * shuffle partitions, as [[graft.Bench]] does. Each mode prints one JSON
  * line as the last stdout line, after the session has stopped.
  */
object Probe {

  val Usage: String =
    "usage: Probe crawl|queries|demo|seen|lake-meta [args] [key=value ...]"

  def main(args: Array[String]): Unit = {
    val (confs, rest) = args.toSeq.partition(isConf)
    val spark = session(confs)
    val line = try run(spark, rest) finally spark.stop()
    println(line)
  }

  /** A `key=value` session conf, as opposed to a mode argument (a path may
    * hold `=`, but not before its first `/`). */
  private def isConf(arg: String): Boolean = arg.matches("[A-Za-z][\\w.-]*=.*")

  /** The tool session: `local[SPARK_GRAFT_CPUS]` (default 4, as
    * [[graft.Bench]]) with the GraftSession tuning, shuffle partitions
    * pinned to the core count, and each `key=value` in `confs` on top. */
  def session(confs: Seq[String]): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val builder = GraftSession.local(cpus, shufflePartitions = Some(cpus))
      .config("spark.ui.enabled", "false")
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run one mode on `spark` and return its JSON line; `args` starts with
    * the mode name. The caller owns the session. */
  def run(spark: SparkSession, args: Seq[String]): String = args match {
    case Seq("crawl", rest @ _*) => crawl(spark, rest)
    case Seq("queries", rest @ _*) => queries(spark, rest)
    case Seq("demo", rest @ _*) => demo(spark, rest)
    case Seq("seen", rest @ _*) => seen(spark, rest)
    case Seq("lake-meta", rest @ _*) => lakeMeta(spark, rest)
    case _ => throw new IllegalArgumentException(Usage)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One JSON object. Values: strings, numbers (doubles to 4 decimals),
    * booleans, sequences, and maps (nested objects, in the map's order). */
  private def json(fields: (String, Any)*): String = render(ListMap(fields: _*))

  private def render(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else "%.4f".formatLocal(Locale.ROOT, d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  private def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Steady-state crawl throughput: one warm-up crawl (JIT and codegen
    * caches), then one timed crawl between CPU and memory-bandwidth
    * sentinels. With no arguments it is Bench's headline workload
    * ([[CrawlHeadline]]); with arguments it is the heavy scaling workload
    * — `nPages` (default 400000) pages of 150+ lines over 400 hosts, read
    * from a parquet copy written untimed, with enrichment on — run once at
    * `SPARK_GRAFT_CPUS=N` and once at `4N` for the N→4N efficiency. */
  private def crawl(spark: SparkSession, args: Seq[String]): String = {
    val cpus = cores(spark)
    val scale = args.nonEmpty
    val (n, ticks, synth, cfg) =
      if (!scale) (CrawlHeadline.N, 2, CrawlHeadline.synthCfg, CrawlHeadline.config)
      else (
        args.head.toLong,
        args.lift(1).map(_.toInt).getOrElse(3),
        PageSynth.Config(nHosts = 400, megaPct = 10,
          minLines = args.lift(3).map(_.toInt).getOrElse(150), extraLines = 50),
        CrawlConfig(budget = args.lift(2).map(_.toInt).getOrElse(300), seenPartitions = 64,
          expectedPerSegment = 1 << 16, collectStats = false, enrich = true))
    // the scale corpus' fat `html` column: 4096-row parquet reader batches
    // reserve GB-scale column vectors per task, so it is read in 256-row
    // batches, in a session of its own
    val session =
      if (!scale) spark
      else spark.newSession().tap(_.conf.set("spark.sql.parquet.columnarReaderBatchSize", "256"))
    val corpusDir: Option[Path] =
      if (!scale) None
      else Some(Files.createTempDirectory(Paths.get(CrawlHeadline.scratchParent), "graft-probe-pages"))
    try {
      val pages = corpusDir match {
        case None => CrawlHeadline.pages(session, cpus)
        case Some(dir) =>
          CrawlHeadline.synthPages(session, n, synth, cpus).write.mode("overwrite").parquet(dir.toString)
          session.read.parquet(dir.toString)
      }
      def once() = CrawlHeadline.steadyCrawl(session, pages, n, synth, cfg, ticks, buckets = cpus)
      once()
      val before = (CrawlHeadline.sentinel(), CrawlHeadline.memSentinel(cpus))
      val (fetched, wall) = once()
      val after = (CrawlHeadline.sentinel(), CrawlHeadline.memSentinel(cpus))
      json(
        "mode" -> "crawl", "workload" -> (if (scale) "scale" else "headline"),
        "cpus" -> cpus, "pages" -> n, "ticks" -> ticks, "budget" -> cfg.budget,
        "fetched" -> fetched, "wall_s" -> wall, "urls_per_sec" -> fetched / wall,
        "sentinel_s" -> Seq(before._1, after._1), "mem_gbps" -> Seq(before._2, after._2))
    } finally corpusDir.foreach(CrawlLake.deleteRecursively)
  }

  /** Registry queries in isolation: an untimed pass over the selected
    * queries (JIT, codegen, parquet footers; `formatted` plans written to
    * `planDir/<query>.txt` when given), then `runs` timed passes per query,
    * median reported. `noop` executes every column of every row through
    * the noop sink; `count` is Bench's action. `runs` 0 writes plans only. */
  private def queries(spark: SparkSession, args: Seq[String]): String = {
    require(args.nonEmpty, "queries needs <sfDir>")
    val sfDir = args.head
    val wanted = args.lift(1).filter(_ != "all").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val action = args.lift(3).getOrElse("noop")
    val planDir = args.lift(4).map(Paths.get(_))
    require(action == "noop" || action == "count", s"action must be noop or count, got $action")
    val unknown = wanted.getOrElse(Set.empty) -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    planDir.foreach(Files.createDirectories(_))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) => wanted.forall(_(name)) }

    def exec(df: DataFrame): Unit =
      if (action == "count") df.count() else df.write.format("noop").mode("overwrite").save()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def attempt(name: String)(f: => Unit): Unit =
      try f catch { case e: Throwable => errors.getOrElseUpdate(name, e.getClass.getSimpleName) }

    selected.foreach { case (name, fn) =>
      attempt(name) {
        val df = fn(spark, sfDir)
        planDir.foreach(d => Files.writeString(d.resolve(s"$name.txt"),
          df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)))
        if (runs > 0) exec(df)
      }
    }
    val medians = ListMap(selected.collect { case (name, fn) if runs > 0 && !errors.contains(name) =>
      name -> median((1 to runs).map(_ => timed(attempt(name)(exec(fn(spark, sfDir))))._2))
    }: _*) -- errors.keys
    json(
      "mode" -> "queries", "sf" -> sfDir, "action" -> action, "runs" -> runs,
      "total_s" -> medians.values.sum, "failed" -> errors.size,
      "queries" -> (medians ++ errors.map { case (q, e) => q -> Map("err" -> e) }))
  }

  /** End-to-end crawl demo over the synthetic corpus (robots rules on):
    * prints each tick's stats and codegen compiles, the head of the
    * deterministic crawl order and the politeness stage's physical plan.
    * The lake stays under the JVM tmp dir for inspection. */
  private def demo(spark: SparkSession, args: Seq[String]): String = {
    val nPages = args.headOption.map(_.toLong).getOrElse(300L)
    val budget = args.lift(1).map(_.toInt).getOrElse(3)
    val ticks = args.lift(2).map(_.toInt).getOrElse(4)
    val corpus = PageSynth.pages(nPages)
    val pagesDf = spark.createDataFrame(corpus.map(_.page)).repartition(cores(spark))
    val robots = spark.createDataset(PageSynth.robots())(Encoders.product[RobotsEntry])
    val lake = CrawlLake.forCrawl(Files.createTempDirectory("graft-demo-lake").toString, spark)
    val driver = new CrawlDriver(spark, lake, pagesDf, robots,
      CrawlConfig(budget = budget, seenPartitions = 16, expectedPerSegment = 1 << 14))
    driver.init(PageSynth.seeds(nPages, 5))
    // a steady-state tick reuses the classes earlier ticks compiled and
    // compiles nothing
    val (ticked, secs) = timed((1 to ticks).map { _ =>
      val c0 = CodegenWatch.compiles
      val s = driver.tick()
      s -> (CodegenWatch.compiles - c0)
    })
    ticked.foreach { case (s, c) => println(
      f"[demo] tick ${s.batchId}: scheduled=${s.scheduled} fetched=${s.fetched} " +
        f"failed=${s.failed} newUrls=${s.admittedNew} compiles=${c.count} (${c.ms}%.0f ms)") }
    println("[demo] crawl order head:")
    driver.crawlOrder().show(10, truncate = false)
    println("[demo] politeness stage plan:")
    graft.operators.Politeness.schedule(driver.frontier, budget).explain("formatted")
    val fetched = ticked.map(_._1.fetched).sum
    json(
      "mode" -> "demo", "pages" -> nPages, "budget" -> budget, "ticks" -> ticks,
      "fetched" -> fetched, "wall_s" -> secs, "urls_per_sec" -> fetched / secs, "lake" -> lake.root)
  }

  /** Seen set at a design partition count (default P=4096, 10^8 keys,
    * 10^7 candidates) through its three at-scale paths: the per-tick exact
    * delta build, the compaction into bounded filter segments (~24k
    * keys/partition outgrow the 2^16 list geometry and convert to Blooms),
    * and the cogroup probe plus exact confirm — half the candidates seen,
    * half new. */
  private def seen(spark: SparkSession, args: Seq[String]): String = {
    import spark.implicits._
    val nKeys = args.headOption.map(_.toLong).getOrElse(100000000L)
    val nCand = args.lift(1).map(_.toLong).getOrElse(10000000L)
    val p = args.lift(2).map(_.toInt).getOrElse(4096)
    val slices = cores(spark)
    // the crawl's canonical 64-bit hashes, synthesized deterministically
    val keys = spark.range(0L, nKeys, 1L, slices).select(xxhash64(col("id")).as("url_hash"))

    val (delta, tDelta) = timed {
      val d = SeenSet.buildDeltaList(keys, p).toDF().persist()
      d.count()
      d
    }
    val (merged, tCompact) = timed {
      val m = SeenSet.mergeSegments(SeenSet.emptySegments(spark), delta.as[SeenSet.Segment], 1L << 16)
        .persist()
      m.count()
      m
    }
    delta.unpersist()
    val segBytes = merged.agg(sum(length(col("segment")))).head().getLong(0)

    val candidates = spark.range(0L, nCand, 1L, slices)
      .select(
        // `/` on longs is DOUBLE division in Spark SQL and xxhash64 is
        // type-sensitive: shiftright keeps the long type, so even ids hash
        // to keys that really are in the set
        when(col("id") % 2 === 0, xxhash64(shiftright(col("id"), 1)))
          .otherwise(xxhash64(col("id") + nKeys * 7 + 1)).as("h"))
      .map(r => FrontierEntry(r.getLong(0), "u", "h", 0, new java.sql.Timestamp(0L), 0L, 0L, 0.0))
    val (admitted, tProbe) = timed(SeenSet.filterNew(candidates, merged, keys, p).count())
    merged.unpersist()
    json(
      "mode" -> "seen", "p" -> p, "n_keys" -> nKeys, "n_candidates" -> nCand,
      "segment_bytes" -> segBytes, "delta_build_s" -> tDelta, "compact_s" -> tCompact,
      "probe_s" -> tProbe, "admitted_new" -> admitted, "probe_keys_per_sec" -> nCand / tProbe)
  }

  /** Lake metadata at long-crawl scale: a drained 64-page crawl runs
    * `nTicks` (default 10^4, at least 4) empty ticks through the real
    * driver loop — manifest-advance commits, seen compactions every 8
    * ticks, lake compactions every 256 — and reports the per-tick cost in
    * the first and last quartile (drift with chain length), the read paths
    * a resuming driver and a consumer hit against the deep snapshot chain
    * (latest-snapshot resolve, frontier/extracted/PENDING reads, a fresh
    * lake open), and an `expireSnapshots` pass with the manifest and `seen`
    * partition-dir counts around it. */
  private def lakeMeta(spark: SparkSession, args: Seq[String]): String = {
    val nTicks = math.max(4, args.headOption.map(_.toInt).getOrElse(10000))
    val buckets = cores(spark)
    val root = Files.createTempDirectory(Paths.get(CrawlHeadline.scratchParent), "graft-meta-lake").toString
    val lake = CrawlLake.forCrawl(root, spark, buckets = buckets)
    val nPages = 64L
    val driver = new CrawlDriver(
      spark, lake,
      spark.createDataFrame(PageSynth.pages(nPages).map(_.page)),
      spark.createDataset(Seq.empty[RobotsEntry])(Encoders.product[RobotsEntry]),
      CrawlConfig(
        budget = 1000, seenPartitions = 8, expectedPerSegment = 4096,
        maxDepth = 0, collectStats = false,
        seenCompactEvery = 8, lakeCompactEvery = 256))
    try {
      driver.init((0L until nPages).map(i => Seed(PageSynth.url(i), 0, PageSynth.warcTs(0))))
      driver.tick() // the one real tick: fetches everything, then the crawl is drained

      val (tickTimes, tEmpty) = timed((1 to nTicks).map(_ => timed(driver.tick())._2))
      val q = nTicks / 4

      val (_, tLatest) = timed(lake.latestSnapshotId.get)
      val (nFrontier, tFrontier) = timed(driver.frontier.count())
      val (nExtracted, tExtracted) = timed(driver.extracted.count())
      val (nPending, tPending) = timed(driver.pending.count())
      // the fresh-JVM resume path: catalog re-register + recover + first read
      val (_, tReopen) = timed(CrawlLake.forCrawl(root, spark, buckets = buckets)
        .read("frontier", Encoders.product[FrontierEntry].schema).count())

      def entries(p: Path, prefix: String): Long =
        scala.util.Using.resource(Files.list(p))(_.filter(_.getFileName.toString.startsWith(prefix)).count())
      val snapDir = Paths.get(root, "snapshots")
      val seenDir = Paths.get(root, "bucketed", "seen")
      def counts = (entries(snapDir, ""), entries(seenDir, "_pbatch="))
      val before = counts
      val (expired, tExpire) = timed(lake.expireSnapshots(keep = 64).size)
      val after = counts
      json(
        "mode" -> "lake-meta", "ticks" -> nTicks, "wall_s" -> tEmpty, "ticks_per_sec" -> nTicks / tEmpty,
        "tick_median_first_quartile_s" -> median(tickTimes.take(q)),
        "tick_median_last_quartile_s" -> median(tickTimes.takeRight(q)),
        "latest_resolve_s" -> tLatest, "frontier_read_s" -> tFrontier,
        "extracted_read_s" -> tExtracted, "pending_read_s" -> tPending, "fresh_open_read_s" -> tReopen,
        "rows" -> ListMap("frontier" -> nFrontier, "extracted" -> nExtracted, "pending" -> nPending),
        "expire_s" -> tExpire, "expired" -> expired,
        "snapshot_files" -> ListMap("before" -> before._1, "after" -> after._1),
        "seen_dirs" -> ListMap("before" -> before._2, "after" -> after._2))
    } finally lake.drop()
  }
}
