package graft.util

/** Pure-Scala XXH64 (the public xxHash 64-bit algorithm,
  * https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md).
  *
  * One hash implementation is shared by every layer of the engine — the
  * Catalyst expression (`graft.functions.CanonicalUrlHash`), the driver-side
  * simulator (`graft.sim.ReferenceSimulator`), and the Bloom seen set —
  * so `url_hash` is consistent everywhere by construction. Seed 42 matches
  * Spark's built-in `xxhash64()` column function, which is used as a
  * correctness oracle in the test suite.
  */
object XxHash64 {
  private final val Prime1 = 0x9e3779b185ebca87L
  private final val Prime2 = 0xc2b2ae3d27d4eb4fL
  private final val Prime3 = 0x165667b19e3779f9L
  private final val Prime4 = 0x85ebca77c2b2ae63L
  private final val Prime5 = 0x27d4eb2f165667c5L

  final val DefaultSeed = 42L

  def hashUtf8(s: String): Long = hash(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), DefaultSeed)

  def hash(bytes: Array[Byte], seed: Long): Long = hash(bytes, 0, bytes.length, seed)

  /** Hash of `bytes[off, off+len)` — same algorithm over a slice, so hot
    * loops (shingle hashing) can reuse one buffer instead of allocating a
    * sliced copy per call. */
  def hash(bytes: Array[Byte], off: Int, len: Int, seed: Long): Long = {
    val end = off + len
    var h: Long = 0L
    var i = off
    if (len >= 32) {
      var v1 = seed + Prime1 + Prime2
      var v2 = seed + Prime2
      var v3 = seed
      var v4 = seed - Prime1
      while (i + 32 <= end) {
        v1 = round(v1, readLong(bytes, i))
        v2 = round(v2, readLong(bytes, i + 8))
        v3 = round(v3, readLong(bytes, i + 16))
        v4 = round(v4, readLong(bytes, i + 24))
        i += 32
      }
      h = java.lang.Long.rotateLeft(v1, 1) + java.lang.Long.rotateLeft(v2, 7) +
        java.lang.Long.rotateLeft(v3, 12) + java.lang.Long.rotateLeft(v4, 18)
      h = mergeRound(h, v1)
      h = mergeRound(h, v2)
      h = mergeRound(h, v3)
      h = mergeRound(h, v4)
    } else {
      h = seed + Prime5
    }
    h += len
    while (i + 8 <= end) {
      h ^= round(0L, readLong(bytes, i))
      h = java.lang.Long.rotateLeft(h, 27) * Prime1 + Prime4
      i += 8
    }
    if (i + 4 <= end) {
      h ^= (readInt(bytes, i) & 0xffffffffL) * Prime1
      h = java.lang.Long.rotateLeft(h, 23) * Prime2 + Prime3
      i += 4
    }
    while (i < end) {
      h ^= (bytes(i) & 0xffL) * Prime5
      h = java.lang.Long.rotateLeft(h, 11) * Prime1
      i += 1
    }
    avalanche(h)
  }

  /** Hash a single long (for composing multi-field hashes and salting). */
  def hashLong(value: Long, seed: Long): Long = {
    var h = seed + Prime5 + 8L
    h ^= round(0L, value)
    h = java.lang.Long.rotateLeft(h, 27) * Prime1 + Prime4
    avalanche(h)
  }

  @inline private def round(acc: Long, input: Long): Long =
    java.lang.Long.rotateLeft(acc + input * Prime2, 31) * Prime1

  @inline private def mergeRound(acc: Long, v: Long): Long =
    (acc ^ round(0L, v)) * Prime1 + Prime4

  @inline private def avalanche(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33
    h *= Prime2
    h ^= h >>> 29
    h *= Prime3
    h ^= h >>> 32
    h
  }

  @inline private def readLong(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24) | ((b(i + 4) & 0xffL) << 32) |
      ((b(i + 5) & 0xffL) << 40) | ((b(i + 6) & 0xffL) << 48) |
      ((b(i + 7) & 0xffL) << 56)

  @inline private def readInt(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) |
      ((b(i + 3) & 0xff) << 24)
}
