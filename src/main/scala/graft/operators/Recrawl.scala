package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Re-crawl (revisit) policy: the reference never marks a page "done" — its
  * EventBridge `rate(720 minutes)` schedule (`stack.ts:206`) re-runs the
  * whole scrape every 12 h and relies on DynamoDB put-overwrite idempotency
  * to absorb the repeats. The Spark-native generalization is a TTL on the
  * fetch lineage: a frontier row is PENDING when it has never been fetched
  * OR its latest fetch is older than the freshness horizon, so steady-state
  * continuous crawling (fetch → age out → re-fetch) falls out of the same
  * derived-state model as crawl-once (`PENDING = frontier ∖ fetch_log` is
  * the horizon → -∞ special case; [[graft.crawl.CrawlConfig.recrawlAfterTicks]]).
  *
  * Scale shape (10^10 frontier, fetch_log bucketed by url_hash): the
  * latest-fetch aggregate groups by the bucket key — partial aggregation
  * runs inside each bucket scan with NO exchange — and its output keeps the
  * bucket partitioning, so the frontier left-join is also exchange-free on
  * both sides (asserted in RecrawlSpec). The fetch_log scan itself stays
  * bounded by lake compaction ([[graft.crawl.CrawlConfig.lakeCompactEvery]]).
  */
object Recrawl {

  /** Rows of `frontier` with no fetch in `log`, or whose latest `tsCol`
    * fetch is strictly before `horizon`. `log` may carry extra columns;
    * only (key, tsCol) are read, so column pruning keeps the scan narrow. */
  def pendingWithTtl(
      frontier: DataFrame,
      log: DataFrame,
      key: String,
      tsCol: String,
      horizon: Column): DataFrame = {
    val last = log.groupBy(col(key)).agg(max(col(tsCol)).as("_last_fetch"))
    frontier
      .join(last, Seq(key), "left")
      .where(col("_last_fetch").isNull || col("_last_fetch") < horizon)
      .drop("_last_fetch")
  }
}
