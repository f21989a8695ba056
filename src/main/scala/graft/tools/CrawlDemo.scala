package graft.tools

import java.nio.file.Files

import graft.GraftSession
import graft.crawl.{CrawlConfig, CrawlDriver}
import graft.lake.CrawlLake
import graft.synth.PageSynth
import graft.util.CodegenWatch

/** End-to-end demo/verification entry point: synthesizes a corpus, runs a
  * multi-tick crawl, prints per-tick stats, the head of the deterministic
  * crawl order, and the physical plan of the politeness stage.
  *
  * Usage: runMain graft.tools.CrawlDemo [nPages] [budget] [ticks] [cpus]
  */
object CrawlDemo {
  def main(args: Array[String]): Unit = {
    val nPages = args.lift(0).map(_.toLong).getOrElse(300L)
    val budget = args.lift(1).map(_.toInt).getOrElse(3)
    val ticks = args.lift(2).map(_.toInt).getOrElse(4)
    val cpus = args.lift(3).getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

    val spark = GraftSession.local(cpus.toInt, shufflePartitions = Some(cpus.toInt))
      .appName("graft-crawl-demo")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val corpus = PageSynth.pages(nPages)
    val pagesDf = spark.createDataFrame(corpus.map(_.page)).repartition(cpus.toInt)
    val robots = spark.createDataset(PageSynth.robots())(
      org.apache.spark.sql.Encoders.product[graft.model.RobotsEntry])
    val lake = CrawlLake.forCrawl(Files.createTempDirectory("graft-demo-lake").toString, spark)
    val driver = new CrawlDriver(spark, lake, pagesDf, robots,
      CrawlConfig(budget = budget, seenPartitions = 16, expectedPerSegment = 1 << 14))

    driver.init(PageSynth.seeds(nPages, 5))
    val t0 = System.nanoTime()
    // each tick with its codegen compiles: a steady-state tick reuses the
    // classes earlier ticks compiled and compiles nothing
    val ticked = (1 to ticks).map { _ =>
      val c0 = CodegenWatch.compiles
      val s = driver.tick()
      s -> (CodegenWatch.compiles - c0)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    ticked.foreach { case (s, c) => println(
      f"[demo] tick ${s.batchId}: scheduled=${s.scheduled} fetched=${s.fetched} " +
        f"failed=${s.failed} newUrls=${s.admittedNew} compiles=${c.count} (${c.ms}%.0f ms)") }
    val fetchedTotal = ticked.map(_._1.fetched).sum
    println(f"[demo] $fetchedTotal pages in $secs%.1fs = ${fetchedTotal / secs}%.1f fetched+extracted/s (lake=${lake.root})")
    println("[demo] crawl order head:")
    driver.crawlOrder().show(10, truncate = false)
    println("[demo] politeness stage plan:")
    graft.operators.Politeness.schedule(driver.frontier, budget).explain("formatted")
    spark.stop()
  }
}
