package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming operators that keep no crawl state of their own.
  * The crawl's only durable state is the lake snapshot: continuous crawling
  * is [[StreamingCrawl.start]] driving `CrawlDriver.tick()` (politeness via
  * `Politeness.schedule` and `CrawlConfig.hostCooldownTicks`, both derived
  * from the lake), and snapshot-consistent deltas are the batch CDC reads
  * `CrawlDriver.frontierSince` / `extractedSince`.
  */
object StreamingOps {

  /** Windowed fetch-rate metrics with a watermark — the engine's
    * CloudWatch-replacement over `fetch_log` as a stream. */
  def fetchRateByHost(fetchLogStream: DataFrame, window_ : String = "10 minutes"): DataFrame =
    fetchLogStream
      .withWatermark("fetch_ts", "30 minutes")
      .groupBy(window(col("fetch_ts"), window_), col("host"))
      .agg(
        count(lit(1)).as("fetches"),
        sum(col("bytes")).as("bytes"),
        sum(when(col("status") =!= 200, 1).otherwise(0)).as("failures"))
}
