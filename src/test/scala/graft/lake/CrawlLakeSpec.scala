package graft.lake

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CrawlLakeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("url_hash", LongType), StructField("v", StringType)))
  private val tables = Map("t" -> CrawlLake.BucketedTableSpec(schema, "url_hash", 4))

  private def df(rows: (Long, String)*) = rows.toDF("url_hash", "v")
  private def lake(root: String) = new CrawlLake(root, spark, tables)
  private def values(l: CrawlLake, snapshotId: Option[Long] = None): Seq[String] =
    l.read("t", schema, snapshotId).as[(Long, String)].collect().map(_._2).sorted.toSeq

  /** Copy partition `from` of table t to partition `to`, as a crash after a
    * write but before its manifest leaves it. */
  private def plant(root: String, from: Long, to: Long): Path = {
    val dir = Paths.get(root, "bucketed", "t")
    val dst = Files.createDirectories(dir.resolve(s"_pbatch=$to"))
    scala.util.Using.resource(Files.list(dir.resolve(s"_pbatch=$from")))(_.iterator().forEachRemaining { f =>
      Files.copy(f, dst.resolve(f.getFileName)); ()
    })
    dst
  }

  test("snapshots accumulate appends; time-travel reads see exactly their snapshot") {
    val l = lake(Files.createTempDirectory("lake-spec").toString)
    assert(l.latestSnapshotId.isEmpty)
    val s0 = l.commit(0L, appends = Map("t" -> df(1L -> "a")))
    val s1 = l.commit(1L, appends = Map("t" -> df(2L -> "b")))
    val s2 = l.commit(2L, appends = Map("t" -> df(3L -> "c")))
    assert((s0, s1, s2) == (0L, 1L, 2L))
    assert(l.read("t", schema).count() == 3)
    assert(values(l, Some(1L)) == Seq("a", "b"))
    assert(l.read("t", schema, Some(0L)).count() == 1)
    assert(l.batchIdOf(2L) == 2L)
  }

  test("replace tables expose only the newest version") {
    val l = lake(Files.createTempDirectory("lake-spec2").toString)
    // -0 is tick partition 0: a table's first version is an append
    intercept[IllegalArgumentException](
      l.commit(0L, appends = Map.empty, replaces = Map("t" -> df(1L -> "v0"))))
    assert(l.latestSnapshotId.isEmpty)
    l.commit(0L, appends = Map("t" -> df(1L -> "v0")))
    l.commit(1L, appends = Map("t" -> df(4L -> "v0")))
    val s2 = l.commit(2L, appends = Map.empty, replaces = Map("t" -> df(2L -> "v1", 3L -> "v1")))
    assert(values(l) == Seq("v1", "v1"))
    // the replace reclaimed the superseded partitions, so the snapshots
    // before it are expired for this table
    assert(l.partitionIds("t") == Seq(-s2))
    val e = intercept[IllegalStateException](l.read("t", schema, Some(1L)).count())
    assert(e.getMessage.contains("expired by compaction"))
    // a replace may read the table it replaces (append into a new partition)
    val s3 = l.commit(3L, appends = Map.empty,
      replaces = Map("t" -> l.read("t", schema).withColumn("v", lit("v2"))))
    assert(values(l) == Seq("v2", "v2"))
    assert(l.partitionIds("t") == Seq(-s3))
    // appends after a replace stack on its partition
    l.commit(4L, appends = Map("t" -> df(5L -> "v3")))
    assert(values(l) == Seq("v2", "v2", "v3"))
    intercept[IllegalArgumentException](l.commit(4L, appends = Map("t" -> df(6L -> "again"))))
  }

  test("orphan data dirs (crash before manifest) are invisible to readers") {
    val root = Files.createTempDirectory("lake-spec3").toString
    val l = lake(root)
    l.commit(0L, appends = Map("t" -> df(1L -> "a")))
    l.commit(1L, appends = Map("t" -> df(2L -> "b")))
    // a crashed commit of batch 2 and a crashed replace at snapshot 2
    plant(root, from = 0L, to = 2L)
    plant(root, from = 1L, to = -2L)
    val reopened = lake(root) // registers the planted partitions
    assert(reopened.partitionIds("t").toSet == Set(-2L, 0L, 1L, 2L))
    assert(values(reopened) == Seq("a", "b"))
    // the retried batch drops its leftover before it writes
    reopened.commit(2L, appends = Map("t" -> df(3L -> "c")))
    assert(values(reopened) == Seq("a", "b", "c"))
    // the next replace drops the leftover of the crashed one
    val sc = reopened.compactBucketed("t")
    assert(values(reopened) == Seq("a", "b", "c"))
    assert(reopened.partitionIds("t") == Seq(-sc))
  }

  test("empty-table read yields empty frame with the requested schema") {
    val l = lake(Files.createTempDirectory("lake-spec4").toString)
    assert(l.read("t", schema).count() == 0)
    l.commit(0L, appends = Map.empty)
    val empty = l.read("t", schema)
    assert(empty.count() == 0)
    assert(empty.schema == schema)
    intercept[IllegalArgumentException](l.read("missing_table", schema))
    intercept[IllegalArgumentException](l.commit(1L, appends = Map("missing_table" -> df(1L -> "x"))))
  }

  test("expireSnapshots drops manifests beyond the time-travel depth") {
    val l = lake(Files.createTempDirectory("lake-spec6").toString)
    (0L to 2L).foreach(b => l.commit(b, appends = Map("t" -> df(b -> s"r$b"))))
    val deleted = l.expireSnapshots(keep = 1)
    assert(deleted.map(Paths.get(_).getFileName.toString).toSet == Set("v0.json", "v1.json"))
    assert(l.read("t", schema).count() == 3) // the data is untouched
    // an expired time-travel read errors instead of resolving
    intercept[Exception](l.read("t", schema, Some(0L)).count())
    assert(l.expireSnapshots(keep = 1).isEmpty)
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

  test("manifest cache is evicted when expireSnapshots drops a snapshot") {
    val l = lake(Files.createTempDirectory("lake-spec7").toString)
    l.commit(0L, appends = Map("t" -> df(1L -> "a")))
    l.commit(1L, appends = Map("t" -> df(2L -> "b")))
    assert(l.batchIdOf(0L) == 0L) // warm the cache
    l.expireSnapshots(keep = 1)
    intercept[Exception](l.batchIdOf(0L)) // must fail, not serve stale cache
    assert(l.read("t", schema).count() == 2)
  }

  test("a lake whose latest manifest lists dir tables is rejected when opened") {
    // the manifest shape of a lake written when `seen` was a dir table: this
    // build would read that `seen` as empty and readmit every seen URL
    val root = Files.createTempDirectory("lake-spec9").toString
    lake(root).commit(0L, appends = Map("t" -> df(1L -> "a")))
    val v0 = Paths.get(root, "snapshots", "v0.json")
    Files.writeString(v0, Files.readString(v0).replaceFirst(
      "\\{", s"""{ "tables": { "seen": ["$root/data/seen/batch-000000"] },"""))
    val e = intercept[IllegalArgumentException](lake(root))
    assert(e.getMessage.contains("dir tables") && e.getMessage.contains("no migration"), e.getMessage)
  }
}
