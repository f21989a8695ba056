package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CrawlLakeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("url_hash", LongType), StructField("v", StringType)))

  private def df(rows: (Long, String)*) = rows.toDF("url_hash", "v")

  test("snapshots accumulate appends; time-travel reads see exactly their snapshot") {
    val lake = CrawlLake(Files.createTempDirectory("lake-spec").toString, spark)
    assert(lake.latestSnapshotId.isEmpty)
    val s0 = lake.commit(0L, appends = Map("t" -> df(1L -> "a")))
    val s1 = lake.commit(1L, appends = Map("t" -> df(2L -> "b")))
    val s2 = lake.commit(2L, appends = Map("t" -> df(3L -> "c")))
    assert((s0, s1, s2) == (0L, 1L, 2L))
    assert(lake.read("t", schema).count() == 3)
    assert(lake.read("t", schema, Some(1L)).as[(Long, String)].collect().map(_._2).sorted.toSeq == Seq("a", "b"))
    assert(lake.read("t", schema, Some(0L)).count() == 1)
    assert(lake.batchIdOf(2L) == 2L)
  }

  test("replace tables expose only the newest version") {
    val lake = CrawlLake(Files.createTempDirectory("lake-spec2").toString, spark)
    lake.commit(0L, appends = Map.empty, replaces = Map("seen" -> df(1L -> "v0")))
    lake.commit(1L, appends = Map.empty, replaces = Map("seen" -> df(2L -> "v1", 3L -> "v1")))
    assert(lake.read("seen", schema).as[(Long, String)].collect().forall(_._2 == "v1"))
    assert(lake.read("seen", schema, Some(0L)).as[(Long, String)].head()._2 == "v0")
  }

  test("orphan data dirs (crash before manifest) are invisible to readers") {
    val root = Files.createTempDirectory("lake-spec3").toString
    val lake = CrawlLake(root, spark)
    lake.commit(0L, appends = Map("t" -> df(1L -> "committed")))
    // simulate a crash: data written but no manifest/LATEST update
    df(99L -> "orphan").write.parquet(s"$root/data/t/batch-999999")
    assert(lake.read("t", schema).as[(Long, String)].collect().map(_._2).toSeq == Seq("committed"))
  }

  test("empty-table read yields empty frame with the requested schema") {
    val lake = CrawlLake(Files.createTempDirectory("lake-spec4").toString, spark)
    lake.commit(0L, appends = Map("other" -> df(1L -> "x")))
    val empty = lake.read("missing_table", schema)
    assert(empty.count() == 0)
    assert(empty.schema == schema)
  }

  test("gcOrphans removes crash leftovers and respects time-travel depth") {
    val root = java.nio.file.Files.createTempDirectory("lake-spec6").toString
    val lake = CrawlLake(root, spark)
    lake.commit(0L, appends = Map("t" -> df(1L -> "a")))
    lake.commit(1L, appends = Map("t" -> df(2L -> "b")))
    df(99L -> "orphan").write.parquet(s"$root/data/t/batch-999999")
    val deleted = lake.gcOrphans()
    assert(deleted.exists(_.endsWith("batch-999999")))
    assert(lake.read("t", schema).count() == 2) // referenced dirs untouched
    // limiting depth to 1 snapshot: v1 inherits v0's dirs (append table), so
    // no data dir is deletable — but v0's manifest is tombstoned with its
    // window, so an expired time-travel read errors instead of surfacing a
    // raw FileNotFoundException from missing data dirs
    val deleted2 = lake.gcOrphans(keepSnapshots = 1)
    assert(deleted2.exists(_.endsWith("v0.json")) && !deleted2.exists(_.contains("batch-")))
    assert(lake.read("t", schema).count() == 2)
    intercept[Exception](lake.read("t", schema, Some(0L)))
  }

  test("bucketed time-travel past a compaction fails loudly, not partially") {
    val root = Files.createTempDirectory("lake-spec6").toString
    val lake = new CrawlLake(root, spark, Map(
      "t" -> CrawlLake.BucketedTableSpec(schema, "url_hash", 4)))
    lake.commit(0L, appends = Map("t" -> df(1L -> "a")))
    lake.commit(1L, appends = Map("t" -> df(2L -> "b")))
    lake.compactBucketed("t")
    // latest still reads everything
    assert(lake.read("t", schema).count() == 2)
    // pre-compaction snapshots' tick partitions were reclaimed: raise, don't
    // silently return partial/empty data (round-2 advisor)
    val e = intercept[IllegalStateException](lake.read("t", schema, Some(1L)).count())
    assert(e.getMessage.contains("expired by compaction"))
    // a second compaction expires the FIRST compaction's snapshot too
    lake.commit(2L, appends = Map("t" -> df(3L -> "c")))
    val firstCompactSnap = 2L // snapshot published by compactBucketed above
    lake.compactBucketed("t")
    assert(lake.read("t", schema).count() == 3)
    intercept[IllegalStateException](lake.read("t", schema, Some(firstCompactSnap)).count())
  }

  test("snapshot properties are inherited, overridden key by key, and survive compaction") {
    val root = Files.createTempDirectory("lake-spec8").toString
    val lake = new CrawlLake(root, spark, Map(
      "t" -> CrawlLake.BucketedTableSpec(schema, "url_hash", 4)))
    val s0 = lake.commit(0L, appends = Map("t" -> df(1L -> "a")))
    assert(lake.properties(s0).isEmpty)
    assert(!Files.readString(Paths.get(root, "snapshots", s"v$s0.json")).contains("properties"))
    val s1 = lake.commit(1L, appends = Map("t" -> df(2L -> "b")), properties = Map("k" -> "1", "j" -> "x"))
    val s2 = lake.commit(2L, appends = Map.empty)
    val s3 = lake.commit(3L, appends = Map.empty, properties = Map("k" -> "2"))
    assert(lake.properties(s1) == Map("k" -> "1", "j" -> "x"))
    assert(lake.properties(s2) == Map("k" -> "1", "j" -> "x"))
    assert(lake.properties(s3) == Map("k" -> "2", "j" -> "x"))
    assert(lake.properties(s0).isEmpty) // earlier snapshots keep their own
    val sc = lake.compactBucketed("t")
    assert(lake.properties(sc) == Map("k" -> "2", "j" -> "x"))
    val s5 = lake.commit(4L, appends = Map("t" -> df(3L -> "c")))
    assert(lake.properties(s5) == Map("k" -> "2", "j" -> "x"))
    // a fresh handle reads them back from the manifest on disk
    assert(new CrawlLake(root, spark, lake.bucketed).properties(s5) == Map("k" -> "2", "j" -> "x"))
  }

  test("manifest cache is evicted when gcOrphans tombstones a snapshot") {
    val lake = CrawlLake(Files.createTempDirectory("lake-spec7").toString, spark)
    lake.commit(0L, appends = Map("t" -> df(1L -> "a")))
    lake.commit(1L, appends = Map("t" -> df(2L -> "b")))
    lake.manifest(0L) // warm the cache
    lake.gcOrphans(keepSnapshots = 1)
    intercept[Exception](lake.manifest(0L)) // must fail, not serve stale cache
    assert(lake.read("t", schema).count() == 2)
  }

  test("commit of an empty DataFrame keeps the manifest tight") {
    val lake = CrawlLake(Files.createTempDirectory("lake-spec5").toString, spark)
    lake.commit(0L, appends = Map("t" -> df(1L -> "a")))
    lake.commit(1L, appends = Map("t" -> df()))
    val dirs = lake.manifest(1L)("t")
    assert(lake.read("t", schema).count() == 1)
    assert(dirs.size <= 2) // no rows -> at most no new dir
  }
}
