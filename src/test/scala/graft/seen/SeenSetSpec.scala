package graft.seen

import java.sql.Timestamp

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.FrontierEntry
import graft.util.XxHash64

class GraftBloomFilterSpec extends AnyFunSuite {

  private val keys = (0L until 20000L).map(i => XxHash64.hashLong(i, 7L))

  test("no false negatives, ever") {
    val f = GraftBloomFilter.forExpected(20000, 1e-3)
    keys.foreach(f.insert)
    keys.foreach(k => assert(f.mightContain(k)))
  }

  test("false-positive rate near target at capacity") {
    val f = GraftBloomFilter.forExpected(20000, 1e-3)
    keys.foreach(f.insert)
    val probes = (0L until 20000L).map(i => XxHash64.hashLong(i + 1000000L, 13L))
    val fp = probes.count(f.mightContain)
    assert(fp < 20000 * 5e-3, s"fp=$fp")
  }

  test("serialization roundtrip + OR merge") {
    val a = GraftBloomFilter.forExpected(1000, 1e-3)
    val b = GraftBloomFilter.forExpected(1000, 1e-3)
    keys.take(500).foreach(a.insert)
    keys.slice(500, 1000).foreach(b.insert)
    val merged = GraftBloomFilter.deserialize(
      SeenSegments.merge(a.serialized, b.serialized))
    keys.take(1000).foreach(k => assert(merged.mightContain(k)))
    assert(merged.itemsInserted == 1000)
  }
}

class SeenSetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fe(h: Long): FrontierEntry =
    FrontierEntry(h, s"https://h$h.com/", s"h$h.com", 0, new Timestamp(0L), 0L, 0L, 0.0)

  private val seenHashes = (0L until 3000L).map(i => XxHash64.hashLong(i, 3L))
  private val newHashes = (0L until 1000L).map(i => XxHash64.hashLong(i + 7777777L, 5L))

  test("agg-built segments + filterNew ≡ filterNewExact") {
    val p = 8
    val seenDf = seenHashes.toDF("url_hash")
    val segments = SeenSet.buildDeltaSegments(seenDf, p, expectedPerSegment = 1024)
    assert(segments.count() == p)
    assert(segments.as[SeenSet.Segment].collect().map(_.n_items).sum == 3000)

    val candidates = spark.createDataset((seenHashes.take(200) ++ newHashes).map(fe))
    val exact = SeenSet.filterNewExact(candidates, seenDf).collect().map(_.url_hash).sorted
    val filtered = SeenSet
      .filterNew(candidates, segments, seenDf, p)
      .collect().map(_.url_hash).sorted
    assert(exact.toSeq == newHashes.sorted.toSeq)
    assert(filtered.toSeq == exact.toSeq)
  }

  test("mergeSegments: probe over merged ≡ probe over union") {
    val p = 8
    val segA = SeenSet.buildDeltaSegments(seenHashes.take(1500).toDF("url_hash"), p, 1024)
    val segB = SeenSet.buildDeltaSegments(seenHashes.drop(1500).toDF("url_hash"), p, 1024)
    val merged = SeenSet.mergeSegments(segA, segB).collect().sortBy(_.partition_id)
    assert(merged.map(_.n_items).sum == 3000)
    val probes = merged.map(s => s.partition_id -> SeenSegments.probeFn(s.segment)).toMap
    seenHashes.foreach { h =>
      val pid = math.floorMod(h, p.toLong).toInt
      assert(probes(pid)(h), s"false negative after merge: $h")
    }
  }

  test("long-list delta segments: probe + merge dispatch across kinds") {
    val blob = GraftLongList.serialize(Array(5L, 1L, 9L, 1L))
    val probe = SeenSegments.probeFn(blob)
    assert(probe(1L) && probe(5L) && probe(9L) && !probe(2L))
    // list ⊕ list
    val ll = SeenSegments.merge(blob, GraftLongList.serialize(Array(2L)))
    assert(SeenSegments.probeFn(ll)(2L) && SeenSegments.probeFn(ll)(9L))
    // filter ⊕ list (both argument orders) folds keys into the filter
    val bloom = GraftBloomFilter.forExpected(100, 1e-3)
    bloom.insert(42L)
    Seq(SeenSegments.merge(bloom.serialized, blob), SeenSegments.merge(blob, bloom.serialized))
      .foreach { b =>
        assert(java.nio.ByteBuffer.wrap(b, 0, 4).getInt == GraftBloomFilter.Magic)
        val p = SeenSegments.probeFn(b)
        assert(p(42L) && p(1L) && p(5L) && p(9L))
      }
  }

  test("filterNew is exact over mixed filter + delta-list segments") {
    val p = 8
    val (seenA, seenB) = seenHashes.splitAt(1500)
    val segments = SeenSet.buildDeltaSegments(seenA.toDF("url_hash"), p, 1024)
      .unionByName(SeenSet.buildDeltaList(seenB.toDF("url_hash"), p))
    val seenDf = seenHashes.toDF("url_hash")
    val candidates = spark.createDataset(
      (seenA.take(100) ++ seenB.take(100) ++ newHashes).map(fe))
    val out = SeenSet.filterNew(candidates, segments, seenDf, p)
      .collect().map(_.url_hash).sorted
    assert(out.toSeq == newHashes.sorted.toSeq)
  }

  test("filterNew plans the probe cogroup exactly once") {
    val p = 8
    val seenDf = seenHashes.toDF("url_hash")
    val segments = SeenSet.buildDeltaSegments(seenDf, p, expectedPerSegment = 1024)
    val candidates = spark.createDataset((seenHashes.take(50) ++ newHashes.take(50)).map(fe))
    val plan = SeenSet.filterNew(candidates, segments, seenDf, p)
      .queryExecution.executedPlan.toString
    val cogroups = "CoGroup".r.findAllIn(plan).size
    assert(cogroups == 1, s"probe subtree duplicated: $cogroups CoGroup nodes in plan\n$plan")
  }

  test("filterNew rejects a segment whose partition_id is outside [0, P)") {
    // a seen set built at P=8 probed at P=4: partitions 4..7 can never meet
    // a candidate, so probing on would readmit their hashes as new
    val seenDf = seenHashes.toDF("url_hash")
    val segments = SeenSet.buildDeltaSegments(seenDf, 8, expectedPerSegment = 1024)
    val candidates = spark.createDataset((seenHashes.take(100) ++ newHashes.take(100)).map(fe))
    @annotation.nowarn("cat=deprecation")
    def viaGate(gate: Long) = SeenSet.filterNew(candidates, segments, seenDf, 4, gate)
    for (probe <- Seq(() => SeenSet.filterNew(candidates, segments, seenDf, 4), () => viaGate(0L))) {
      val err = intercept[Exception](probe().collect())
      val iae = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .collectFirst { case e: IllegalArgumentException => e }
      assert(iae.exists(e => e.getMessage.contains("out of range for P=4") &&
        (4 until 8).exists(pid => e.getMessage.contains(s"partition_id $pid "))), err.toString)
    }
  }

  test("the gate-taking filterNew ignores the gate and forwards unchanged") {
    val p = 4
    val seenDf = seenHashes.toDF("url_hash")
    val segments = SeenSet.buildDeltaSegments(seenDf, p, expectedPerSegment = 1024)
    val candidates = spark.createDataset((seenHashes.take(100) ++ newHashes.take(100)).map(fe))
    val expected = SeenSet.filterNew(candidates, segments, seenDf, p).collect().map(_.url_hash).sorted.toSeq
    assert(expected == newHashes.take(100).sorted)
    @annotation.nowarn("cat=deprecation")
    def viaGate(gate: Long) = SeenSet.filterNew(candidates, segments, seenDf, p, gate)
    for (gate <- Seq(0L, Long.MaxValue)) {
      val plan = viaGate(gate).queryExecution.executedPlan.toString
      assert("CoGroup".r.findAllIn(plan).size == 1, s"gate $gate: want the cogroup probe\n$plan")
      assert(viaGate(gate).collect().map(_.url_hash).sorted.toSeq == expected, s"gate $gate")
    }
  }

  private def magic(b: Array[Byte]): Int = java.nio.ByteBuffer.wrap(b, 0, 4).getInt

  test("compactStack: small pure-list partitions stay exact lists") {
    val out = SeenSegments.compactStack(
      Seq((GraftLongList.serialize(Array(1L, 2L, 3L)), 3L),
        (GraftLongList.serialize(Array(9L)), 1L)),
      expectedPerSegment = 1024)
    assert(out.size == 1 && magic(out.head._1) == GraftLongList.Magic)
    val p = SeenSegments.probeFn(out.head._1)
    assert(p(1L) && p(2L) && p(3L) && p(9L) && !p(4L))
  }

  test("compactStack: pure-list partitions converge to a bounded filter once large") {
    // round-2 advisor item 1: partitions never seeded with a filter used to
    // accumulate raw 8 B/key lists forever
    val keys = (0L until 4000L).map(i => XxHash64.hashLong(i, 77L)).toArray
    val out = SeenSegments.compactStack(
      Seq((GraftLongList.serialize(keys), keys.length.toLong)), expectedPerSegment = 1024)
    assert(magic(out.head._1) == GraftBloomFilter.Magic, "did not convert")
    // strictly smaller than the list it replaced, and every key still hits
    assert(out.map(_._1.length.toLong).sum < 8L + 8L * keys.length)
    val probes = out.map(s => SeenSegments.probeFn(s._1))
    keys.foreach(k => assert(probes.exists(_(k)), s"lost $k in conversion"))
  }

  test("compactStack: a bloom at design capacity is never overfilled — keys stack beside it") {
    // round-5 review: folding deltas into a full Bloom silently walks its
    // FPR toward 1 (the pre-screen collapses to the exact path); past the
    // design load the keys must become their own segment instead
    val expected = 1024L
    val full = GraftBloomFilter.forExpected(expected, 1e-3)
    (0L until expected).foreach(i => full.insert(XxHash64.hashLong(i, 11L)))
    val delta = (5000L until 5512L).map(XxHash64.hashLong(_, 11L)).toArray
    val out = SeenSegments.compactStack(
      Seq((full.serialized, expected), (GraftLongList.serialize(delta), delta.length.toLong)),
      expectedPerSegment = expected)
    assert(out.size == 2, s"expected full filter + stacked keys, got ${out.size}")
    val bloomSeg = out.find(s => magic(s._1) == GraftBloomFilter.Magic).get
    // the full filter is byte-identical (untouched) and keeps its count
    assert(java.util.Arrays.equals(bloomSeg._1, full.serialized) && bloomSeg._2 == expected)
    // probing the stack still covers both populations
    val probes = out.map(s => SeenSegments.probeFn(s._1))
    ((0L until expected).map(XxHash64.hashLong(_, 11L)) ++ delta)
      .foreach(k => assert(probes.exists(_(k)), s"lost $k"))
    // and a HALF-full filter still folds in place (no gratuitous stacking)
    val half = GraftBloomFilter.forExpected(expected, 1e-3)
    (0L until expected / 4).foreach(i => half.insert(XxHash64.hashLong(i, 11L)))
    val out2 = SeenSegments.compactStack(
      Seq((half.serialized, expected / 4),
        (GraftLongList.serialize(delta), delta.length.toLong)),
      expectedPerSegment = expected)
    assert(out2.size == 1 && magic(out2.head._1) == GraftBloomFilter.Magic)
  }

  test("compactStack: two well-loaded blooms stay side by side; undersized siblings still merge") {
    def filled(n: Long, seed: Long): GraftBloomFilter = {
      val f = GraftBloomFilter.forExpected(1024, 1e-3)
      (0L until n).foreach(i => f.insert(XxHash64.hashLong(i, seed)))
      f
    }
    val outFull = SeenSegments.compactStack(
      Seq((filled(1000, 1L).serialized, 1000L), (filled(1000, 2L).serialized, 1000L)),
      1024)
    assert(outFull.size == 2, "OR-merging two near-full blooms would double bit density")
    val outSmall = SeenSegments.compactStack(
      Seq((filled(300, 1L).serialized, 300L), (filled(300, 2L).serialized, 300L)),
      1024)
    assert(outSmall.size == 1, "undersized same-geometry siblings must still merge")
  }

  test("bloom FPR holds at design rate even when every key shares url_hash mod P") {
    // round-5 review: h1 must be the MIXED key — segment members all share
    // url_hash ≡ pid (mod P), and a raw-key first probe concentrated in a
    // coset of the bit array, inflating FPR ~1.5x past the configured fpp
    val p = 64
    val n = 4096
    val f = GraftBloomFilter.forExpected(n, 1e-3)
    // members: keys ≡ 7 (mod 64)
    (0 until n).foreach(i => f.insert(7L + 64L * i))
    var fp = 0
    val probes = 200000
    var j = 0
    while (j < probes) {
      val k = 7L + 64L * (1000000L + j) // same residue class, disjoint range
      if (f.mightContain(k)) fp += 1
      j += 1
    }
    val fpr = fp.toDouble / probes
    assert(fpr <= 1.35e-3, f"coset-biased FPR $fpr%.2e exceeds design 1e-3 + noise margin")
  }

  test("compactStack: unmergeable filter geometries stay side by side") {
    val a = GraftBloomFilter.forExpected(1000, 1e-3); a.insert(1L)
    val b = GraftBloomFilter.forExpected(5000, 1e-3); b.insert(2L)
    val out = SeenSegments.compactStack(
      Seq((a.serialized, 1L), (b.serialized, 1L)), 1024)
    assert(out.size == 2)
    val probes = out.map(s => SeenSegments.probeFn(s._1))
    assert(probes.exists(_(1L)) && probes.exists(_(2L)))
  }

  test("unreadable formats GBLM, GBL2, GCKF, GCK2 fail loudly in probe and merge") {
    // retired Bloom layouts and the removed cuckoo filter: one gate, one
    // message naming the rebuild tool — never a silent wrong probe, and
    // never carried through a compaction that has no delta keys to fold
    val good = GraftBloomFilter.forExpected(100, 1e-3)
    good.insert(2L)
    val ok = spark.createDataset(Seq(SeenSet.Segment(0, good.serialized, 1L)))
    for (name <- Seq("GBLM", "GBL2", "GCKF", "GCK2")) {
      val blob = good.serialized
      java.nio.ByteBuffer.wrap(blob).put(name.getBytes("US-ASCII"))
      val e = intercept[IllegalArgumentException](SeenSegments.probeFn(blob))
      assert(e.getMessage.contains(name) && e.getMessage.contains("graft.tools.SeenRebuild"),
        e.getMessage)
      val bad = spark.createDataset(Seq(SeenSet.Segment(0, blob, 1L)))
      for ((existing, delta) <- Seq((bad, SeenSet.emptySegments(spark)), (ok, bad))) {
        val err = intercept[Exception](SeenSet.mergeSegments(existing, delta, 1024L).collect())
        val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(msgs.exists(m => m != null && m.contains(name) && m.contains("graft.tools.SeenRebuild")),
          s"$name: ${err.getMessage}")
      }
    }
  }

  test("the kind-taking mergeSegments accepts only bloom and forwards unchanged") {
    val p = 4
    val segA = SeenSet.buildDeltaSegments(seenHashes.take(1500).toDF("url_hash"), p, 1024)
    val delta = SeenSet.buildDeltaList(seenHashes.drop(1500).toDF("url_hash"), p)
    def bytes(ds: org.apache.spark.sql.Dataset[SeenSet.Segment]) =
      ds.collect().sortBy(_.partition_id).map(s => (s.partition_id, s.segment.toSeq, s.n_items)).toSeq
    @annotation.nowarn("cat=deprecation")
    def viaKind(kind: String) = SeenSet.mergeSegments(segA, delta, kind, 1024L)
    assert(bytes(viaKind("bloom")) == bytes(SeenSet.mergeSegments(segA, delta, 1024L)))
    intercept[IllegalArgumentException](viaKind("cuckoo"))
  }

  test("property: random hash sets never produce false negatives (scalacheck gen)") {
    val gen = Gen.listOfN(500, Gen.long)
    val hs = gen.apply(Gen.Parameters.default, Seed(7L)).get.distinct
    val f = GraftBloomFilter.forExpected(hs.size.toLong, 1e-3)
    hs.foreach(f.insert)
    hs.foreach(h => assert(f.mightContain(h)))
  }
}
