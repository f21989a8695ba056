package graft.tools

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.lake.CrawlLake
import graft.model.FrontierEntry
import graft.seen.SeenSet

/** One-shot seen-set rebuild from the exact frontier — the migration path
  * for lakes whose seen segments use a format this build cannot read (the
  * seen set's format gate fails such blobs at probe and compaction time
  * with a pointer here).
  *
  * The frontier is the seen set's exact source of truth (every admitted
  * url_hash has exactly one frontier row), so a rebuild is lossless:
  * fresh Bloom segments from `frontier.url_hash` at the CURRENT build's
  * format replace the `seen` table in one atomic commit. The lake is opened
  * with the crawl layout ([[CrawlLake.forCrawl]]), whose frontier is a
  * bucketed table; run it with the seenPartitions / expectedPerSegment /
  * bucket count the crawl uses.
  *
  * Usage: runMain graft.tools.SeenRebuild <lakeDir> [P] [expectedPerSegment] [buckets]
  */
object SeenRebuild {
  def main(args: Array[String]): Unit = {
    val lakeDir = args(0)
    val p = args.lift(1).map(_.toInt).getOrElse(SeenSet.DefaultPartitions)
    val expectedPerSegment = args.lift(2).map(_.toLong).getOrElse(1L << 16)
    val buckets = args.lift(3).map(_.toInt).getOrElse(32) // CrawlLake.forCrawl's default

    val spark = Probe.session(Nil)
    val snap = rebuild(spark, lakeDir, p, expectedPerSegment, buckets)
    println(s"""{"tool":"seen_rebuild","snapshot":$snap,"p":$p,"buckets":$buckets}""")
    spark.stop()
  }

  /** Replace the `seen` table of the crawl lake at `lakeDir` with segments
    * rebuilt from its frontier, committing `p` as the snapshot property the
    * driver's resume drift guard checks. The segments land in the commit's
    * compaction partition, and the superseded ones are dropped after it.
    * Returns the new snapshot id; like a compaction, the commit republishes
    * the latest batch, so the crawl's batch ids and cadences are unchanged. */
  def rebuild(
      spark: SparkSession,
      lakeDir: String,
      p: Int,
      expectedPerSegment: Long,
      buckets: Int): Long = {
    val lake = CrawlLake.forCrawl(lakeDir, spark, buckets)
    val frontier = lake.read("frontier", Encoders.product[FrontierEntry].schema)
    val segments = SeenSet.buildDeltaSegments(frontier.select("url_hash"), p, expectedPerSegment)
    val latest = lake.latestSnapshotId.getOrElse(
      throw new IllegalArgumentException(s"no lake snapshot under $lakeDir: nothing to rebuild"))
    lake.commit(lake.batchIdOf(latest), appends = Map.empty, replaces = Map("seen" -> segments.toDF()),
      properties = Map(SeenSet.PartitionsProperty -> p.toString))
  }
}
