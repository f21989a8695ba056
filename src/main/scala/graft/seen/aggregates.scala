package graft.seen

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._

/** Catalyst aggregate building one Bloom segment per group from `url_hash`
  * values (north-rule: "partitioned Bloom-filter URL-seen set ... build via
  * TypedImperativeAggregate"). Group by `pmod(url_hash, P)` to build the
  * partitioned seen set; partial aggregation (map-side combine) means each
  * executor ORs its local segment before the shuffle — only P small binary
  * blobs cross the wire, never the raw hashes.
  *
  * Spark has an internal BloomFilterAggregate but it is not public API and
  * its sketch is not under our serialization control (the `seen` table
  * format must be stable across Spark upgrades) — hence from scratch.
  */
case class BloomBuildAgg(
    child: Expression,
    numBits: Long,
    numHashes: Int,
    designCapacity: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GraftBloomFilter] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bloom_build"

  override def createAggregationBuffer(): GraftBloomFilter =
    GraftBloomFilter.create(numBits, numHashes, designCapacity)

  override def update(buf: GraftBloomFilter, input: InternalRow): GraftBloomFilter = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: GraftBloomFilter, b2: GraftBloomFilter): GraftBloomFilter =
    b1.mergeInPlace(b2)

  override def eval(buf: GraftBloomFilter): Any = buf.serialized
  override def serialize(buf: GraftBloomFilter): Array[Byte] = buf.serialized
  override def deserialize(bytes: Array[Byte]): GraftBloomFilter =
    GraftBloomFilter.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): BloomBuildAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomBuildAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(child = cs.head)
}

object SeenSegments {
  /** Segment formats this build cannot read, by magic. */
  private val Unreadable: Map[Int, String] = Map(
    GraftBloomFilter.MagicV1 -> "GBLM (retired Bloom layout: raw-key h1)",
    GraftBloomFilter.MagicV2 -> "GBL2 (retired Bloom layout: capacity derived from m and k)",
    0x47434b46 -> "GCKF (cuckoo filter, no longer supported)",
    0x47434b32 -> "GCK2 (cuckoo filter, no longer supported)")

  /** The seen set's one format gate: probe, merge and compaction read every
    * segment's magic through it, so a blob this build cannot read fails
    * loudly with the migration path instead of being probed as something
    * else or carried through compaction untouched. Returns the magic of a
    * readable segment (Bloom v3 or exact list). */
  private[seen] def readableMagic(bytes: Array[Byte]): Int = {
    require(bytes.length >= 4, "empty segment blob")
    val m = java.nio.ByteBuffer.wrap(bytes, 0, 4).getInt
    if (m != GraftBloomFilter.Magic && m != GraftLongList.Magic) {
      val what = Unreadable.getOrElse(m, f"format 0x$m%08x (unknown)")
      throw new IllegalArgumentException(
        s"seen segment $what cannot be read by this build; rebuild the seen set from the " +
          "frontier with graft.tools.SeenRebuild (README \"Seen-set format migrations\")")
    }
    m
  }

  /** Magic-dispatched probe function over a serialized segment. */
  def probeFn(bytes: Array[Byte]): Long => Boolean =
    if (readableMagic(bytes) == GraftLongList.Magic) GraftLongList.containsFn(bytes)
    else GraftBloomFilter.deserialize(bytes).mightContain _

  /** Magic-dispatched binary merge of two serialized segments: Bloom ⊕
    * Bloom is the bitwise OR (same geometry required); Bloom ⊕ list
    * re-inserts the list's raw keys (no geometry coupling — this is how
    * exact deltas compact into filters); list ⊕ list concatenates. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    (readableMagic(a), readableMagic(b)) match {
      case (GraftLongList.Magic, GraftLongList.Magic) =>
        GraftLongList.serialize(GraftLongList.deserialize(a) ++ GraftLongList.deserialize(b))
      case (GraftLongList.Magic, _) => merge(b, a)
      case (_, GraftLongList.Magic) =>
        val f = GraftBloomFilter.deserialize(a)
        GraftLongList.deserialize(b).foreach(f.insert)
        f.serialized
      case _ =>
        GraftBloomFilter.deserialize(a).mergeInPlace(GraftBloomFilter.deserialize(b)).serialized
    }

  /** Fold one partition's whole segment stack (Blooms ⊕ exact delta lists,
    * any order, any count) into a BOUNDED set of segments — the compaction
    * primitive behind [[SeenSet.mergeSegments]]:
    *
    *  - delta-list keys fold into the partition's first Bloom while it has
    *    design headroom (raw keys re-insert; no geometry coupling);
    *  - a partition with NO Bloom converges: while its merged exact list is
    *    smaller than the configured filter it stays an exact list (smaller
    *    AND zero-FPR), but once it outgrows the filter size a fresh Bloom is
    *    built from the keys, so no partition grows without bound at 8 B/key
    *    with a full rewrite per compaction;
    *  - Blooms that cannot merge (past their combined design load, or
    *    geometry drift after a config change) stay side by side — the probe
    *    already ORs every segment of a partition.
    *
    * Returns (serialized segment, n_items) pairs; order deterministic. */
  def compactStack(
      segs: Seq[(Array[Byte], Long)],
      expectedPerSegment: Long,
      fpp: Double = 1e-3): Seq[(Array[Byte], Long)] = {
    val (listSegs, filterSegs) = segs.partition(s => readableMagic(s._1) == GraftLongList.Magic)
    // distinct delta keys across every list segment (serialize sorts+dedups)
    val keys: Array[Long] =
      if (listSegs.isEmpty) Array.emptyLongArray
      else GraftLongList.deserialize(GraftLongList.serialize(
        listSegs.iterator.flatMap(s => GraftLongList.deserialize(s._1)).toArray))

    // 1. fold Blooms pairwise where geometry and load allow
    val filters = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Long)]
    filterSegs.foreach { case (bytes, n) =>
      var i = 0
      var placed = false
      while (!placed && i < filters.length) {
        tryMergeBlooms(filters(i)._1, bytes) match {
          case Some(m) => filters(i) = (m, filters(i)._2 + n); placed = true
          case None => i += 1
        }
      }
      if (!placed) filters += ((bytes, n))
    }

    if (filters.isEmpty) segsFromKeys(keys, expectedPerSegment, fpp)
    else if (keys.isEmpty) filters.toSeq
    // 2. fold the delta keys into the first Bloom — but NEVER past its
    //    design capacity: Bloom inserts silently saturate bits, and once
    //    itemsInserted ≫ expected the segment's FPR walks toward 1 and every
    //    candidate takes the exact-confirm path. When the fold would
    //    overfill, the keys become their own segment(s) instead: the probe
    //    ORs a partition's whole stack, so correctness is unchanged and each
    //    segment keeps its configured fpp; a partition converges to
    //    ~⌈keys/expected⌉ full filters + one partial (step 1 keeps gluing
    //    undersized siblings back together).
    else if (bloomHeadroom(filters.head._1) >= keys.length) {
      val f = GraftBloomFilter.deserialize(filters.head._1)
      keys.foreach(f.insert)
      (f.serialized, filters.head._2 + keys.length) +: filters.drop(1).toSeq
    } else filters.toSeq ++ segsFromKeys(keys, expectedPerSegment, fpp)
  }

  /** Segment(s) for a raw key set with no target filter: an exact list
    * while that is the smaller (and zero-FPR) representation, else a Bloom
    * sized max(expectedPerSegment, keys). */
  private def segsFromKeys(
      keys: Array[Long],
      expectedPerSegment: Long,
      fpp: Double): Seq[(Array[Byte], Long)] =
    if (keys.isEmpty) Seq.empty
    else if (8L + 8L * keys.length <= bloomBytes(expectedPerSegment, fpp))
      Seq((GraftLongList.serialize(keys), keys.length.toLong))
    else {
      val f = GraftBloomFilter.forExpected(math.max(expectedPerSegment, keys.length.toLong), fpp)
      keys.foreach(f.insert)
      Seq((f.serialized, keys.length.toLong))
    }

  /** Serialized size of a fresh Bloom at the configured geometry — the
    * list→filter conversion threshold in [[compactStack]]. */
  private def bloomBytes(expectedPerSegment: Long, fpp: Double): Long =
    GraftBloomFilter.HeaderBytes.toLong +
      ((GraftBloomFilter.optimalNumBits(expectedPerSegment, fpp) + 63L) >>> 6) * 8L

  /** Items inserted into a serialized Bloom, read from its v3 header
    * (magic(4) k(4) numBits(8) itemsInserted(8) designCapacity(8)) without
    * copying the word array. */
  private def bloomItems(bytes: Array[Byte]): Long = java.nio.ByteBuffer.wrap(bytes).getLong(16)

  /** Remaining insert capacity of a serialized Bloom before it exceeds its
    * design load. The design capacity is read from the header, not derived
    * as m·ln2/k (exact only at optimal sizing: a filter created with a
    * clamped/rounded k would over-report its capacity). */
  private def bloomHeadroom(bytes: Array[Byte]): Long =
    math.max(0L, math.max(1L, java.nio.ByteBuffer.wrap(bytes).getLong(24)) - bloomItems(bytes))

  /** OR-merge two serialized Blooms when geometry allows and the result
    * stays within the target's design load; None when they must stay side
    * by side. OR-merging two well-loaded Blooms doubles the bit density and
    * degrades FPR quadratically, so the same-capacity gate as the delta
    * fold applies. */
  private def tryMergeBlooms(a: Array[Byte], b: Array[Byte]): Option[Array[Byte]] =
    if (bloomHeadroom(a) < bloomItems(b)) None
    else {
      val fa = GraftBloomFilter.deserialize(a)
      val fb = GraftBloomFilter.deserialize(b)
      if (fa.numBits == fb.numBits && fa.numHashes == fb.numHashes) Some(fa.mergeInPlace(fb).serialized)
      else None
    }

  // Column API
  def bloom_build(urlHash: Column, numBits: Long, numHashes: Int, designCapacity: Long): Column =
    ExpressionUtils.column(
      BloomBuildAgg(ExpressionUtils.expression(urlHash), numBits, numHashes, designCapacity)
        .toAggregateExpression())
}
