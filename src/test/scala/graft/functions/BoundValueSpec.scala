package graft.functions

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.crawl.{CrawlConfig, CrawlDriver}
import graft.functions.GraftFunctions._
import graft.lake.CrawlLake
import graft.sim.ReferenceSimulator.tickTs
import graft.synth.PageSynth

class BoundValueSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val values: Seq[Any] =
    Seq(7L, -17L, 0L, Long.MaxValue, Long.MinValue, 42, 2.5, true, tickTs(5), "host.example")

  test("bound_value has lit's type and value: interpreted eval, codegen and no-codegen agree") {
    val noCodegen = spark.newSession()
    noCodegen.conf.set("spark.sql.codegen.wholeStage", "false")
    noCodegen.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    def row(s: org.apache.spark.sql.SparkSession, c: Column) = s.range(3).select(c.as("v")).collect().toSeq
    values.foreach { v =>
      val l = Literal(v)
      val e = BoundValue(l.value, l.dataType)
      assert(e.eval(null) == l.value && e.dataType == l.dataType && !e.foldable && !e.nullable, s"$v")
      val want = row(spark, lit(v))
      assert(row(spark, bound_value(v)) == want, s"codegen: $v")
      assert(row(noCodegen, bound_value(v)) == want, s"interpreted: $v")
    }
  }

  test("a tick writes the batch_id, timestamps and _pbatch values the lit form wrote, compaction included") {
    val n = 120L
    val lake = CrawlLake.forCrawl(Files.createTempDirectory("graft-bound").toString, spark, buckets = 4)
    val driver = new CrawlDriver(spark, lake,
      spark.createDataFrame(PageSynth.pages(n).map(_.page)), spark.createDataset(PageSynth.robots()),
      CrawlConfig(budget = 2, seenPartitions = 4, expectedPerSegment = 4096, lakeCompactEvery = 2))
    driver.init(PageSynth.seeds(n, 3))
    driver.run(3)

    val fetched = driver.fetchLog.select("batch_id", "fetch_ts").as[(Long, Timestamp)].collect()
    assert(fetched.map(_._1).toSet == Set(1L, 2L, 3L))
    fetched.foreach { case (b, ts) => assert(ts == tickTs(b), s"fetch_ts of batch $b") }
    val extracted = driver.extracted.select("batch_id", "extract_ts").as[(Long, Timestamp)].collect()
    assert(extracted.nonEmpty)
    extracted.foreach { case (b, ts) => assert(ts == tickTs(b), s"extract_ts of batch $b") }
    // a discovered URL carries the timestamp of the tick that fetched its source page
    val discovered = driver.frontier.where(col("src_hash") =!= 0L)
      .join(driver.fetchLog.select(col("url_hash").as("src_hash"), col("batch_id")), "src_hash")
      .select("batch_id", "discovery_ts").as[(Long, Timestamp)].collect()
    assert(discovered.nonEmpty)
    discovered.foreach { case (b, ts) => assert(ts == tickTs(b), s"discovery_ts of batch $b") }

    // snapshot b is tick b: tick 2 replaces each table into its compaction
    // partition -2 in its own commit; tick 3 appends partition 3
    Seq("extracted", "fetch_log", "frontier").foreach(t => assert(lake.partitionIds(t).toSet == Set(-2L, 3L), t))
  }
}
