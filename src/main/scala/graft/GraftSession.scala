package graft

import org.apache.spark.sql.SparkSession

/** The engine's recommended session tuning, in one place (the bench mains
  * and any deployment build on this instead of re-deriving it):
  *
  *  - `spark.sql.adaptive.enabled`: AQE size-gates the fetch join's
  *    broadcast and re-plans skewed shuffles at runtime;
  *  - `autoBroadcastJoinThreshold = 256m`: sized to executor memory like a
  *    real deployment — the 10 MB default demotes a ~100k-row politeness
  *    batch to a sort-merge join and shuffles the whole pages side;
  *  - `coalescePartitions.minPartitionSize = 64k`: the 1 MB default
  *    collapses the crawl's CPU-dense small shuffles (candidate dedup:
  *    ~2 MB of bytes, ~10 µs/row) to 1-2 tasks — a serialized multi-second
  *    stage per tick at 32 cores (round-4 event-log evidence);
  *  - UTC session timezone: deterministic timestamps are part of the
  *    engine's resume-exactness contract;
  *  - `spark.sql.codegen.cache.maxEntries = 1000`: Spark's cache of
  *    compiled generated classes. One crawl tick uses 60–120 of them, and
  *    a traced benchmark crawl (ticks, compactions, resume, checks)
  *    compiles 264 distinct classes. The default of 100 is a segmented
  *    LRU (Guava evicts per segment, before the total is reached), so it
  *    evicted on every tick the classes the next tick needed, and each
  *    tick paid up to 1.7 s of Janino compile time (BASELINE.md). 1000
  *    leaves headroom for the per-segment eviction. It is a static,
  *    JVM-wide conf read once when the code generator first initializes:
  *    the first session built in a JVM decides it.
  *
  * `shufflePartitions` defaults to 3 slots per core: the web corpus has
  * deliberate megahost skew, and with exactly one reduce task per core a
  * single heavy host partition paces the whole stage; over-partitioning +
  * AQE coalescing keeps every core fed (A/B'd, BASELINE.md round 3).
  */
object GraftSession {

  def builder(
      master: String,
      cores: Int,
      shufflePartitions: Option[Int] = None): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores * 3).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** Local session at `cores` threads (the sandbox's spark-submit stand-in;
    * a cluster deployment passes the same confs to spark-submit). */
  def local(cores: Int, shufflePartitions: Option[Int] = None): SparkSession.Builder =
    builder(s"local[$cores]", cores, shufflePartitions)
}
