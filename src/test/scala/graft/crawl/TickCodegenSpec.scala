package graft.crawl

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.GraftFunctions._
import graft.lake.CrawlLake
import graft.synth.PageSynth

/** Tick b+1 must generate exactly the Java source tick b generated, so a
  * steady-state tick reuses the compiled classes instead of compiling new
  * ones. Pinned on the sources themselves, not on compile counts: Spark's
  * compiled-class cache is JVM-wide and other suites fill it, and this test
  * session does not go through GraftSession's cache sizing. */
class TickCodegenSpec extends AnyFunSuite {
  // AQE off, in a session of its own: the executed plan then holds its
  // whole-stage codegen stages before any job runs, so their sources are
  // generated and compared without compiling or executing anything
  private lazy val spark: SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def sources(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w.doCodeGen()._2.body }

  test("the tick's write-side plans generate identical code at batch b and b+1") {
    val lake = CrawlLake.forCrawl(
      Files.createTempDirectory("graft-codegen").toString, spark, buckets = 4, enrich = true)
    val pages = spark.createDataFrame(PageSynth.pages(20L).map(_.page))
    val driver = new CrawlDriver(spark, lake, pages,
      spark.createDataset(PageSynth.robots())(org.apache.spark.sql.Encoders.product[graft.model.RobotsEntry]),
      CrawlConfig(seenPartitions = 4, enrich = true))

    // the tick's fetch output and schedule, materialized like runBatch's
    // persisted `processed` and checkpointed `scheduled`
    val page = extract_page(col("html"), col("url"))
    val processed = pages
      .select(
        url_hash64(col("url")).as("url_hash"), col("url"), url_host(col("url")).as("host"),
        lit(0).as("depth"), length(col("html")).cast("long").as("bytes"),
        page.getField("doc").as("doc"), page.getField("links").as("links"))
      .localCheckpoint()
    val scheduled = processed.select("url_hash", "url", "host", "depth").localCheckpoint()

    def plans(b: Long): Seq[(String, DataFrame)] = {
      val (fetchRows, extractedRows, candidates) = driver.writeFrames(scheduled, processed, b)
      Seq(
        "fetch_log rows" -> fetchRows,
        "extracted rows" -> extractedRows,
        "frontier candidates" -> candidates,
        "fetch_log insert" -> lake.bucketedInsert("fetch_log", fetchRows, b),
        "extracted insert" -> lake.bucketedInsert("extracted", extractedRows, b),
        "frontier insert" -> lake.bucketedInsert("frontier", candidates, b),
        // compaction writes its consolidated partition as -snapshotId
        "compaction insert" -> lake.bucketedInsert("frontier", candidates, -3L * b))
    }

    plans(6L).zip(plans(7L)).foreach { case ((name, at6), (_, at7)) =>
      val (s6, s7) = (sources(at6), sources(at7))
      assert(s6.nonEmpty, s"$name: no whole-stage codegen stage to compare")
      assert(s6 == s7, s"$name: tick 7 generates different code than tick 6")
    }
  }
}
