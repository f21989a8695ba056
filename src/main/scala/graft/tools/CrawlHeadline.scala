package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.crawl.{CrawlConfig, CrawlDriver}
import graft.lake.CrawlLake
import graft.model.{RobotsEntry, Seed}
import graft.synth.PageSynth

/** THE crawl-headline workload, shared by [[graft.Bench]] (the driver's
  * measured artifact) and `Probe crawl` (the standalone A/B tool) so the
  * two can never de-sync structurally: a 30k-page deterministic corpus,
  * 200 hosts with megahost skew, budget 200, 64-partition seen set, 2
  * steady-state ticks. Both go through one routine, [[steadyCrawl]].
  *
  * Each run tears its scratch lake down — `CrawlLake.drop()` deregisters
  * the catalog tables and deletes the lake dir — so repeated runs in one
  * bench JVM do not accumulate populated lakes (page-cache pressure on a
  * tmpfs tmp); and [[sentinel]] gives the bench a fixed
  * pure-CPU yardstick timed before every run so ambient host contention
  * is visible IN the artifact instead of argued after the fact.
  */
object CrawlHeadline {

  val N = 30000L
  val synthCfg: PageSynth.Config =
    PageSynth.Config(nHosts = 200, megaPct = 10, minLines = 10, extraLines = 5)

  /** The headline's crawl configuration. */
  val config: CrawlConfig =
    CrawlConfig(budget = 200, seenPartitions = 64, expectedPerSegment = 1 << 14, collectStats = false)

  def pages(spark: SparkSession, cpus: Int): DataFrame = synthPages(spark, N, synthCfg, cpus)

  /** The first `n` pages of the `synth` corpus, generated in `slices`
    * partitions (each page is a pure function of its index). */
  def synthPages(spark: SparkSession, n: Long, synth: PageSynth.Config, slices: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, slices)
      .mapPartitions(_.map(i => PageSynth.synthPage(i, n, synth).page)).toDF()
  }

  /** Scratch-lake parent: tmpfs when the host has one (the engine's own
    * "spark.local.dir on fast storage" guidance), else the JVM tmp dir.
    * The lake is deleted after every run either way. */
  def scratchParent: String =
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm"))) "/dev/shm"
    else System.getProperty("java.io.tmpdir")

  /** One headline crawl over a FRESH lake under `lakeParent` (default:
    * [[scratchParent]]). Returns (fetched, wall_s); the lake is torn down
    * before returning. */
  def runOnce(
      spark: SparkSession,
      pagesDf: DataFrame,
      cpus: Int,
      lakeParent: Option[String] = None): (Long, Double) =
    steadyCrawl(spark, pagesDf, N, synthCfg, config, ticks = 2, buckets = cpus, lakeParent)

  /** One steady-state crawl: all `n` pages of the `synth` corpus are seeded
    * onto the frontier of a FRESH `buckets`-bucket lake under `lakeParent`
    * (default: [[scratchParent]]), then `ticks` ticks run over `pagesDf`
    * with no robots rules. Returns (fetched, wall_s of the ticks); the lake
    * is torn down before returning. */
  def steadyCrawl(
      spark: SparkSession,
      pagesDf: DataFrame,
      n: Long,
      synth: PageSynth.Config,
      cfg: CrawlConfig,
      ticks: Int,
      buckets: Int,
      lakeParent: Option[String] = None): (Long, Double) = {
    import spark.implicits._
    val robots = spark.createDataset(Seq.empty[RobotsEntry])
    val lakeDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(lakeParent.getOrElse(scratchParent)), "graft-bench-lake").toString
    val lake = CrawlLake.forCrawl(lakeDir, spark, buckets = buckets, enrich = cfg.enrich)
    val driver = new CrawlDriver(spark, lake, pagesDf, robots, cfg)
    try {
      driver.init((0L until n).map(i => Seed(PageSynth.url(i, synth), 0, PageSynth.warcTs(0))))
      val t0 = System.nanoTime()
      val stats = driver.run(ticks)
      val wall = (System.nanoTime() - t0) / 1e9
      (stats.map(_.fetched).sum, wall)
    } finally lake.drop()
  }

  /** Ambient-noise sentinel: a fixed, single-threaded, allocation-free
    * pure-CPU workload (an xxhash64 chain — the same primitive the engine's
    * hot kernels lean on). Its wall time on an idle core is a constant of
    * the hardware; on this shared Firecracker host it stretches 1:1 with
    * steal/contention, so reporting it per run lets a reader separate "the
    * engine got slower" from "the window was degraded". Returns seconds. */
  def sentinel(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < SentinelIters) { h = graft.util.XxHash64.hashLong(h, h | 1L); i += 1 }
    // sink the chain so the loop cannot be dead-code-eliminated
    if (h == 42L) System.err.println("sentinel fixed point")
    (System.nanoTime() - t0) / 1e9
  }

  /** Measured 0.42–0.48 s on a shared 4-core, 15 GB VM (2026-10-17); an
    * earlier 32-core host read 0.315 s, so readings compare only within one
    * host. A run whose sentinel reads far above its host's band ran in a
    * degraded window. */
  private val SentinelIters: Int = 40000000

  /** Multicore memory-bandwidth sentinel: `threads` threads each stream
    * over a private 64 MB long array 4 times; returns aggregate GB/s. The
    * single-core CPU sentinel is blind to memory-bandwidth contention
    * from host neighbors (one core's xxhash chain lives in registers +
    * L1), but an 8-thread crawl tick is bandwidth-hungry — reporting the
    * same-window aggregate bandwidth next to each scaling rep separates
    * "the engine stopped scaling" from "the socket's bandwidth did". */
  def memSentinel(threads: Int): Double = {
    val wordsPer = (64 << 20) / 8
    val reps = 4
    val arrs = Array.fill(threads)(new Array[Long](wordsPer))
    arrs.foreach(a => java.util.Arrays.fill(a, 0x5a5a5a5a5a5a5a5aL))
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = arrs.map { a =>
      val t = new Thread(() => {
        var s = 0L
        var r = 0
        while (r < reps) {
          var i = 0
          while (i < a.length) { s += a(i); i += 1 }
          r += 1
        }
        sink.addAndGet(s) // defeat dead-code elimination
      })
      t.start(); t
    }
    ts.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    val bytes = threads.toLong * wordsPer * 8L * reps
    bytes / secs / 1e9
  }

  /** Disk-ambient sentinel: a fixed 16 MB fsync'd write + delete on the
    * same filesystem the lake commits to. The CPU sentinel is blind to
    * I/O: this sandbox's virtual disk has windows where buffered write
    * throughput collapses ~10x (measured 2026-08-17: 73.7 -> 8.3 MB/s
    * within one minute), which stalls the crawl's snapshot commits while
    * every CPU sentinel stays flat — exactly the signature of a bimodal
    * headline with calibrated CPU ambient. Calibrated healthy reading:
    * ~0.02-0.12 s; a reading in whole seconds marks a throttled-disk
    * window. Returns seconds. */
  def ioSentinel(dir: String = System.getProperty("java.io.tmpdir")): Double = {
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 0x5a.toByte)
    val p = java.nio.file.Paths.get(dir, s"graft-io-sentinel-${System.nanoTime()}")
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    try {
      var i = 0
      while (i < 16) { ch.write(java.nio.ByteBuffer.wrap(buf)); i += 1 }
      ch.force(true)
    } finally {
      ch.close()
      java.nio.file.Files.deleteIfExists(p)
    }
    (System.nanoTime() - t0) / 1e9
  }
}
