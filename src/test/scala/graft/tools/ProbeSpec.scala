package graft.tools

import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every `Probe` mode at tiny sizes on the shared test session: each
  * returns one well-formed JSON line whose counts add up. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def probe(args: String*): JsonNode = {
    val line = Probe.run(spark, args)
    assert(!line.contains("\n"), line)
    val node = new ObjectMapper().readTree(line)
    assert(node.get("mode").asText == args.head, line)
    node
  }

  test("demo: a 60-page crawl over 2 ticks fetches pages and keeps its lake") {
    val j = probe("demo", "60", "3", "2")
    assert(j.get("ticks").asInt == 2)
    assert(j.get("fetched").asLong > 0L)
    assert(Files.isDirectory(java.nio.file.Paths.get(j.get("lake").asText)))
  }

  test("crawl: a 500-page scale crawl fetches the whole frontier in one tick") {
    val j = probe("crawl", "500", "1", "300", "10")
    assert(j.get("workload").asText == "scale")
    assert(j.get("fetched").asLong == 500L)
    assert(j.get("urls_per_sec").asDouble > 0.0)
    assert(j.get("sentinel_s").size == 2 && j.get("mem_gbps").size == 2)
  }

  test("seen: 10^4 keys at P=16 admit exactly the new half of the candidates") {
    val j = probe("seen", "10000", "2000", "16")
    assert(j.get("p").asInt == 16)
    assert(j.get("admitted_new").asLong == 1000L)
    assert(j.get("segment_bytes").asLong > 0L)
  }

  test("lake-meta: 8 empty ticks over a drained crawl") {
    val j = probe("lake-meta", "8")
    assert(j.get("ticks").asInt == 8)
    val rows = j.get("rows")
    assert(rows.get("frontier").asLong == 64L && rows.get("extracted").asLong == 64L)
    assert(rows.get("pending").asLong == 0L)
  }

  test("queries: two registry queries timed, with their plans written") {
    val planDir = Files.createTempDirectory("graft-probe-plans")
    val names = Seq("q01_filter_contains", "q03_politeness_window")
    val j = probe("queries", "perfbench/data/sf0.01", names.mkString(","), "1", "count", planDir.toString)
    assert(j.get("failed").asInt == 0)
    names.foreach { q =>
      assert(j.get("queries").get(q).asDouble > 0.0, q)
      assert(Files.readString(planDir.resolve(s"$q.txt")).contains("Physical Plan"), q)
    }
    intercept[IllegalArgumentException](Probe.run(spark, Seq("queries", "perfbench/data/sf0.01", "q99_nope")))
  }

  test("an unknown mode is rejected with the usage line") {
    val e = intercept[IllegalArgumentException](Probe.run(spark, Seq("nope")))
    assert(e.getMessage == Probe.Usage)
  }
}
