package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.crawl.{CrawlConfig, CrawlDriver}
import graft.lake.CrawlLake
import graft.seen.{SeenSegments, SeenSet}
import graft.synth.PageSynth

class SeenRebuildSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val N = 150L
  private val Buckets = 8
  private lazy val corpus = PageSynth.pages(N)
  private val cfg = CrawlConfig(budget = 2, seenPartitions = 8, expectedPerSegment = 4096)

  private def driver(lake: CrawlLake, cfg: CrawlConfig = cfg): CrawlDriver =
    new CrawlDriver(spark, lake, spark.createDataFrame(corpus.map(_.page)),
      spark.createDataset(PageSynth.robots()), cfg)

  private def order(d: CrawlDriver): Seq[(Long, Long, Int)] =
    d.crawlOrder().select("batch_id", "url_hash", "status").as[(Long, Long, Int)].collect().toSeq

  test("rebuild of a bucketed crawl lake keeps every frontier hash and the crawl order") {
    val refLake = CrawlLake.forCrawl(Files.createTempDirectory("graft-rebuild-ref").toString, spark, Buckets)
    val straight = driver(refLake)
    try {
      straight.init(PageSynth.seeds(N, 3))
      straight.run(4)
      // rebuild at the crawl's own P, and at a new P: the resume guard moves
      // to the rebuilt P, so a driver with any other P fails fast
      for ((p, wrongP) <- Seq(cfg.seenPartitions -> 16, 16 -> cfg.seenPartitions)) {
        val lake = CrawlLake.forCrawl(Files.createTempDirectory("graft-rebuild").toString, spark, Buckets)
        val before = driver(lake)
        try {
          before.init(PageSynth.seeds(N, 3))
          before.run(2)

          SeenRebuild.rebuild(spark, lake.root, p, cfg.expectedPerSegment, Buckets)

          val frontierHashes = before.frontier.select("url_hash").as[Long].collect()
          assert(frontierHashes.length > 10, "mid-crawl frontier should hold the seeds and more")
          val probes = lake.read("seen", Encoders.product[SeenSet.Segment].schema).as[SeenSet.Segment]
            .collect().groupBy(_.partition_id)
            .map { case (pid, segs) => pid -> segs.map(s => SeenSegments.probeFn(s.segment)) }
          frontierHashes.foreach { h =>
            val pid = math.floorMod(h, p.toLong).toInt
            assert(probes.getOrElse(pid, Array.empty[Long => Boolean]).exists(_(h)),
              s"rebuilt seen set (P=$p) misses frontier hash $h")
          }

          val e = intercept[IllegalArgumentException](
            driver(CrawlLake.forCrawl(lake.root, spark, Buckets), cfg.copy(seenPartitions = wrongP)))
          assert(e.getMessage.contains(s"seenPartitions=$p"))
          val after = driver(CrawlLake.forCrawl(lake.root, spark, Buckets), cfg.copy(seenPartitions = p))
          after.run(2)
          val dupKeys = after.frontier.groupBy("url_hash").count().where(col("count") > 1).count()
          assert(dupKeys == 0L, s"P=$p: $dupKeys url_hash keys have more than one frontier row")
          assert(order(after) == order(straight), s"P=$p")
        } finally {
          before.close(); lake.drop()
        }
      }
    } finally {
      straight.close(); refLake.drop()
    }
  }
}
