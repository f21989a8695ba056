package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.FetchRecord

class StreamingOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming end-to-end crawl ≡ batch loop (one tick per micro-batch)") {
    val N = 150L
    val corpus = graft.synth.PageSynth.pages(N)
    val robots = graft.synth.PageSynth.robots()
    // hostCooldownTicks = 1 covers continuous politeness: its per-host state
    // is derived from the lake's fetch_log, never from the stream checkpoint
    val orders = Seq(0, 1).map { cooldown =>
      val cfg = graft.crawl.CrawlConfig(
        budget = 2, seenPartitions = 8, expectedPerSegment = 4096, hostCooldownTicks = cooldown)
      def mkDriver(tag: String) = {
        val lake = graft.lake.CrawlLake.forCrawl(
          Files.createTempDirectory(s"graft-stream-$tag").toString, spark, buckets = 8)
        val d = new graft.crawl.CrawlDriver(
          spark, lake, spark.createDataFrame(corpus.map(_.page)),
          spark.createDataset(robots)(Encoders.product[graft.model.RobotsEntry]), cfg)
        d.init(graft.synth.PageSynth.seeds(N, 3))
        d
      }

      val batchDriver = mkDriver("batch")
      batchDriver.run(3)

      val streamDriver = mkDriver("cont")
      val ticks = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long](spark)
      val statsSeen = scala.collection.mutable.ArrayBuffer.empty[graft.crawl.TickStats]
      val q = StreamingCrawl.start(
        streamDriver, ticks.toDF(),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
        checkpointDir = Some(Files.createTempDirectory("graft-stream-crawl-ckpt").toString),
        onTick = s => statsSeen.synchronized { statsSeen += s })
      try {
        // one tick per micro-batch: add → drain, three times (E1 schedule edges)
        (1 to 3).foreach { i => ticks.addData(i.toLong); q.processAllAvailable() }
      } finally q.stop()

      assert(statsSeen.size == 3, s"cooldown $cooldown: expected 3 ticks, saw ${statsSeen.map(_.batchId)}")
      def order(d: graft.crawl.CrawlDriver) =
        d.crawlOrder().select("batch_id", "url_hash", "status")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toVector
      assert(order(streamDriver) == order(batchDriver), s"cooldown $cooldown")
      assert(streamDriver.frontier.select("url_hash").as[Long].collect().toSet ==
        batchDriver.frontier.select("url_hash").as[Long].collect().toSet, s"cooldown $cooldown")
      order(batchDriver)
    }
    assert(orders(0) != orders(1), "the cooldown should change which hosts each tick fetches")
  }

  test("windowed fetch-rate aggregation over a fetch_log stream") {
    val dir = Files.createTempDirectory("graft-stream-fetchlog").toString
    val sink = s"rate_sink_${System.identityHashCode(this)}"
    val rows = (1 to 20).map { i =>
      FetchRecord(i.toLong, s"https://h${i % 2}.com/p$i", s"h${i % 2}.com",
        new Timestamp(i * 60000L), if (i % 5 == 0) 404 else 200, 1000L, 0, 1L)
    }
    spark.createDataset(rows).write.mode("append").parquet(dir)

    val stream = spark.readStream
      .schema(Encoders.product[FetchRecord].schema).parquet(dir)
    val q = StreamingOps.fetchRateByHost(stream, "10 minutes").writeStream
      .format("memory").queryName(sink).outputMode("complete")
      .option("checkpointLocation", Files.createTempDirectory("graft-stream-ckpt2").toString)
      .start()
    try {
      q.processAllAvailable()
      val out = spark.table(sink)
      assert(out.count() > 0)
      val total = out.agg(org.apache.spark.sql.functions.sum($"fetches")).as[Long].head()
      assert(total == 20L)
      val failures = out.agg(org.apache.spark.sql.functions.sum($"failures")).as[Long].head()
      assert(failures == 4L)
    } finally q.stop()
  }
}
