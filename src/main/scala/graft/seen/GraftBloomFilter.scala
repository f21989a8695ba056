package graft.seen

import graft.util.XxHash64

/** From-scratch Bloom filter over 64-bit url_hash values — one *segment* of
  * the partitioned URL-seen set (SURVEY.md §2 north-rule extensions).
  *
  * Replaces the reference's seen-set, which was DynamoDB hash-key
  * put-overwrite idempotency (`scrape-pdfs-from-website/lambda.ts:94-100`,
  * README.md:63) — O(1) per URL but a network round-trip per item and
  * unshardable by the engine. Here: `P = url_hash mod P` segments, each an
  * independent bit array, built/merged executor-side via
  * [[BloomBuildAgg]] and only ever moved as opaque `binary` column values.
  *
  * Design-scale sizing (10^10 URLs, documented obligation): at target FPR
  * 1e-3, m/n = -ln(p)/ln(2)^2 ≈ 14.38 bits/key, k = 10 hashes. With
  * P = 4096 segments each segment holds ~2.44M keys in ~4.4 MB — well under
  * both the 2 GB array cap and executor memory; the whole seen set is
  * ~18 GB spread across the cluster, never materialized on the driver.
  *
  * Double hashing (Kirsch–Mitzenmatcher): index_i = h1 + i·h2 mod m, with
  * h1 = xxh64(key, seed1), h2 = xxh64(key, seed2) — no per-probe rehash of
  * the key bytes. h1 MUST be the mixed key, not the raw key (v2 fix):
  * every key in a segment shares `url_hash ≡ pid (mod P)`, so a raw-key
  * first probe concentrated in a coset of size numBits/gcd(P, numBits)
  * (half the bit array for the default even numBits), densifying those
  * bits and inflating measured FPR past the configured fpp (round-5
  * review).
  *
  * v3 format (round-5 advisor): the serialized header carries the DESIGN
  * CAPACITY n the filter was sized for, instead of deriving it from m and
  * k at read time — the derivation n = m·ln2/k is exact only at optimal
  * sizing, so a filter created with a clamped/rounded k self-reported a
  * capacity above its real design n and the compaction overfill gate
  * could still push FPR past the configured fpp. Older formats (GBLM raw-
  * key h1, GBL2 derived capacity) hard-fail at the seen set's format gate
  * ([[SeenSegments.readableMagic]]) with a rebuild hint: see README
  * "Seen-set format migrations".
  */
final class GraftBloomFilter private (
    val numBits: Long,
    val numHashes: Int,
    private var _designCapacity: Long,
    private[seen] val words: Array[Long]) extends Serializable {

  /** The key count this filter was SIZED for (stored in the v3 header). */
  def designCapacity: Long = _designCapacity

  private[seen] var itemsInserted: Long = 0L

  def insert(key: Long): Unit = {
    val h2 = XxHash64.hashLong(key, GraftBloomFilter.H2Seed)
    var i = 0
    var combined = XxHash64.hashLong(key, GraftBloomFilter.H1Seed)
    while (i < numHashes) {
      val bit = (combined & Long.MaxValue) % numBits
      words((bit >>> 6).toInt) |= (1L << (bit & 63))
      combined += h2
      i += 1
    }
    itemsInserted += 1
  }

  def mightContain(key: Long): Boolean = {
    val h2 = XxHash64.hashLong(key, GraftBloomFilter.H2Seed)
    var i = 0
    var combined = XxHash64.hashLong(key, GraftBloomFilter.H1Seed)
    while (i < numHashes) {
      val bit = (combined & Long.MaxValue) % numBits
      if ((words((bit >>> 6).toInt) & (1L << (bit & 63))) == 0L) return false
      combined += h2
      i += 1
    }
    true
  }

  /** Bitwise OR merge; segments must share geometry. The merged filter's
    * design capacity is the MIN of the two (conservative: the overfill
    * gate must never admit more keys than the tighter design allows). */
  def mergeInPlace(other: GraftBloomFilter): GraftBloomFilter = {
    require(other.numBits == numBits && other.numHashes == numHashes,
      s"incompatible bloom geometry: ($numBits,$numHashes) vs (${other.numBits},${other.numHashes})")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
    itemsInserted += other.itemsInserted
    if (other._designCapacity < _designCapacity) _designCapacity = other._designCapacity
    this
  }

  def serialized: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(GraftBloomFilter.HeaderBytes + words.length * 8)
    bb.putInt(GraftBloomFilter.Magic)
    bb.putInt(numHashes)
    bb.putLong(numBits)
    bb.putLong(itemsInserted)
    bb.putLong(designCapacity)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }
}

object GraftBloomFilter {
  private[seen] final val Magic = 0x47424c33 // "GBL3" (capacity in header)
  private[seen] final val MagicV2 = 0x47424c32 // "GBL2" (retired: capacity derived from m,k)
  private[seen] final val MagicV1 = 0x47424c4d // "GBLM" (retired: raw-key h1, coset-biased)
  private[seen] final val H1Seed = 0x165667b1L
  private[seen] final val H2Seed = 0x27d4eb2fL

  /** magic(4) k(4) numBits(8) itemsInserted(8) designCapacity(8). */
  private[seen] final val HeaderBytes = 32

  /** The byte array length is an Int, so the largest serializable filter is
    * (Int.MaxValue-header)/8 words — create() enforces the SERIALIZABLE
    * bound, not the in-memory one (a filter that can't survive its first
    * Spark agg serialize is useless). */
  private[seen] final val MaxNumBits = ((Int.MaxValue.toLong - HeaderBytes) / 8) * 64

  def create(numBits: Long, numHashes: Int, designCapacity: Long): GraftBloomFilter = {
    require(numBits > 0 && numBits <= MaxNumBits, s"numBits out of range: $numBits")
    require(numHashes > 0 && numHashes <= 64)
    require(designCapacity > 0, s"designCapacity out of range: $designCapacity")
    new GraftBloomFilter(
      numBits, numHashes, designCapacity, new Array[Long](((numBits + 63) >>> 6).toInt))
  }

  /** Standard optimal sizing for expected n keys at false-positive rate p. */
  def forExpected(n: Long, fpp: Double): GraftBloomFilter = {
    val bits = optimalNumBits(n, fpp)
    create(bits, optimalNumHashes(n, bits), math.max(1L, n))
  }

  def optimalNumBits(n: Long, fpp: Double): Long =
    math.max(64L, math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)

  def optimalNumHashes(n: Long, m: Long): Int =
    math.max(1, math.round(m.toDouble / math.max(1L, n) * math.log(2)).toInt)

  def deserialize(bytes: Array[Byte]): GraftBloomFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val magic = bb.getInt
    require(magic == Magic, f"not a graft bloom segment (magic 0x$magic%08x)")
    val k = bb.getInt
    val numBits = bb.getLong
    val items = bb.getLong
    val capacity = bb.getLong
    val words = new Array[Long](((numBits + 63) >>> 6).toInt)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong; i += 1 }
    val f = new GraftBloomFilter(numBits, k, capacity, words)
    f.itemsInserted = items
    f
  }
}
