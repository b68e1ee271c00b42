package graft.trck

/** trck-compatible HyperLogLog sketch: murmur3 x64-128 (h1) hashing, p=14
  * (16384 one-byte registers), HLL++ bias correction, linear counting under
  * threshold, register-max union merge, and run-length-encoded hex
  * serialization — byte-compatible with the reference output format
  * (reference: src/hyperloglog.c:256-409, format doc README.md:362-389).
  *
  * Two reference quirks are replicated deliberately:
  *  - the rank is `clz32` of the LOW 32 bits of the 64-bit hash OR'd with
  *    (m-1), plus one (reference: src/hyperloglog.c hll_add — C promotes the
  *    uint64 argument of __builtin_clz to unsigned int), so ranks max out at
  *    19, not 51;
  *  - bias interpolation skips the exact-datapoint case and the last
  *    interval (reference loop bound `red_length - 2`), returning 0 there.
  */
final class Hll private (val registers: Array[Byte]) extends Serializable {
  import Hll._

  def add(data: Array[Byte]): Unit = {
    if (data.length == 0) return // reference hashes empty input to 0... but never inserts empties
    val h = Murmur3.hash64(data)
    val idx = (h & (M - 1)).toInt
    val w = Integer.numberOfLeadingZeros((h | (M - 1)).toInt) + 1
    if ((registers(idx) & 0xff) < w) registers(idx) = w.toByte
  }

  def merge(other: Hll): Hll = {
    var i = 0
    while (i < M) {
      if ((registers(i) & 0xff) < (other.registers(i) & 0xff)) registers(i) = other.registers(i)
      i += 1
    }
    this
  }

  def estimate: Double = {
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      sum += 1.0 / (1L << (registers(i) & 0xff)).toDouble
      if (registers(i) == 0) zeros += 1
      i += 1
    }
    val alphaM = 0.7213 / (1.0 + 1.079 / M)
    var e = alphaM * M * M / sum
    if (e < 5.0 * M) e = e - estimateBias(e)
    val h = if (zeros != 0) M * math.log(M.toDouble / zeros) else e
    if (h <= HllTables.Threshold14) h else e
  }

  private def estimateBias(e: Double): Double = {
    val red = HllTables.RawEstimate14
    val bd = HllTables.Bias14
    val redLength = red(0).toInt
    if (e <= red(1)) return bd(1)
    if (e > red(redLength - 1)) return 0.0
    var i = 1
    while (i < redLength - 2) {
      if (red(i) < e && e < red(i + 1)) {
        val slope = (bd(i + 1) - bd(i)) / (red(i + 1) - red(i))
        val intercept = bd(i + 1) - slope * red(i + 1)
        return slope * e + intercept
      }
      i += 1
    }
    0.0
  }

  /** Nonzero registers as (index hi, index lo, rank) byte triples, in
    * index order — the per-trail emit form: a sketch of k distinct items
    * ships at most 3k bytes instead of all [[Hll.M]] registers.
    * [[Hll.maxSparse]] folds it back into a register array.
    */
  def sparse: Array[Byte] = {
    var n = 0
    var i = 0
    while (i < M) { if (registers(i) != 0) n += 1; i += 1 }
    val out = new Array[Byte](3 * n)
    var o = 0
    i = 0
    while (i < M) {
      if (registers(i) != 0) {
        out(o) = (i >>> 8).toByte
        out(o + 1) = i.toByte
        out(o + 2) = registers(i)
        o += 3
      }
      i += 1
    }
    out
  }

  /** Hex serialization: 2 hex chars precision, 2 hex chars version (01 =
    * non-empty), then RLE pairs (count[,countHigh],value) hex-encoded
    * (reference: src/hyperloglog.c:386-409 hll_to_string,
    * src/utils.c:229-276 run_length_encode).
    */
  def toHexString: String = {
    val sb = new StringBuilder
    sb.append(f"$P%02x").append("01")
    var i = 1
    var curr = registers(0)
    var count = 1
    def flush(): Unit = {
      if (count > 127) {
        sb.append(f"${0x80 | (count & 0x7f)}%02x")
        sb.append(f"${count >> 7}%02x")
      } else sb.append(f"$count%02x")
      sb.append(f"${curr & 0xff}%02x")
    }
    while (i < M) {
      if (registers(i) == curr) count += 1
      else { flush(); curr = registers(i); count = 1 }
      i += 1
    }
    flush()
    sb.toString
  }
}

object Hll {
  final val P = 14
  final val M = 1 << P

  /** Serialization of an absent sketch (reference: hll_to_string NULL case). */
  final val EmptyHex = "0e00"

  def apply(): Hll = new Hll(new Array[Byte](M))

  /** View over an externally-owned register array (e.g. a Spark Aggregator
    * buffer) — mutations write through.
    */
  def wrap(registers: Array[Byte]): Hll = {
    require(registers.length == M, s"expected $M registers, got ${registers.length}")
    new Hll(registers)
  }

  /** RLE-hex of a raw register buffer, with the reference's empty-sketch
    * form: a never-populated (all-zero) sketch serializes as [[EmptyHex]]
    * (hll_to_string's NULL case — version 01 means a non-empty sketch), not
    * as a version-01 run of zeros. Aggregation faces (HllAggregator) must
    * go through this so byte parity holds for empty groups too.
    */
  def serializeRegisters(regs: Array[Byte]): String = {
    var i = 0
    while (i < regs.length) {
      if (regs(i) != 0) return wrap(regs).toHexString
      i += 1
    }
    EmptyHex
  }

  /** Register-max a [[Hll.sparse]] triple array into `regs` (M registers). */
  def maxSparse(regs: Array[Byte], sparse: Array[Byte]): Unit = {
    var o = 0
    while (o + 2 < sparse.length) {
      val idx = ((sparse(o) & 0xff) << 8) | (sparse(o + 1) & 0xff)
      if ((regs(idx) & 0xff) < (sparse(o + 2) & 0xff)) regs(idx) = sparse(o + 2)
      o += 3
    }
  }

  def fromHexString(s: String): Hll = {
    // reference: src/utils.c:164-210 hll_rle_decode
    val hll = Hll()
    if (s.length <= 4 || s.substring(2, 4) == "00") return hll
    var pos = 4
    var idx = 0
    def byteAt(p: Int): Int = Integer.parseInt(s.substring(p, p + 2), 16)
    while (pos + 1 < s.length) {
      var len = byteAt(pos) & 0x7f
      val ext = (byteAt(pos) & 0x80) != 0
      pos += 2
      if (ext) { len |= byteAt(pos) << 7; pos += 2 }
      val v = byteAt(pos).toByte
      pos += 2
      var stop = idx + len
      while (idx < stop) { hll.registers(idx) = v; idx += 1 }
    }
    hll
  }
}

/** MurmurHash3 x64-128 (Austin Appleby, public domain), returning h1 —
  * exactly the variant the reference hashes tuples with (reference:
  * src/hyperloglog.c:141-248 qhashmurmur3_64).
  */
object Murmur3 {
  def hash64(data: Array[Byte]): Long = {
    if (data.length == 0) return 0L
    val c1 = 0x87c37b91114253d5L
    val c2 = 0x4cf5ad432745937fL
    val nbytes = data.length
    val nblocks = nbytes / 16
    var h1 = 0L
    var h2 = 0L

    def block(i: Int): Long = {
      val o = i * 8
      (data(o) & 0xffL) | ((data(o + 1) & 0xffL) << 8) | ((data(o + 2) & 0xffL) << 16) |
        ((data(o + 3) & 0xffL) << 24) | ((data(o + 4) & 0xffL) << 32) |
        ((data(o + 5) & 0xffL) << 40) | ((data(o + 6) & 0xffL) << 48) |
        ((data(o + 7) & 0xffL) << 56)
    }

    var i = 0
    while (i < nblocks) {
      var k1 = block(i * 2)
      var k2 = block(i * 2 + 1)
      k1 *= c1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= c2; h1 ^= k1
      h1 = java.lang.Long.rotateLeft(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= c2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= c1; h2 ^= k2
      h2 = java.lang.Long.rotateLeft(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      i += 1
    }

    val tailStart = nblocks * 16
    var k1 = 0L
    var k2 = 0L
    val rem = nbytes & 15
    def tb(j: Int): Long = data(tailStart + j) & 0xffL
    if (rem >= 9) {
      if (rem >= 15) k2 ^= tb(14) << 48
      if (rem >= 14) k2 ^= tb(13) << 40
      if (rem >= 13) k2 ^= tb(12) << 32
      if (rem >= 12) k2 ^= tb(11) << 24
      if (rem >= 11) k2 ^= tb(10) << 16
      if (rem >= 10) k2 ^= tb(9) << 8
      k2 ^= tb(8)
      k2 *= c2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= c1; h2 ^= k2
    }
    if (rem >= 1) {
      if (rem >= 8) k1 ^= tb(7) << 56
      if (rem >= 7) k1 ^= tb(6) << 48
      if (rem >= 6) k1 ^= tb(5) << 40
      if (rem >= 5) k1 ^= tb(4) << 32
      if (rem >= 4) k1 ^= tb(3) << 24
      if (rem >= 3) k1 ^= tb(2) << 16
      if (rem >= 2) k1 ^= tb(1) << 8
      k1 ^= tb(0)
      k1 *= c1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= c2; h1 ^= k1
    }

    h1 ^= nbytes.toLong; h2 ^= nbytes.toLong
    h1 += h2; h2 += h1
    h1 = fmix(h1); h2 = fmix(h2)
    h1 += h2
    // reference returns h1 after the final cross-add pair
    h1
  }

  private def fmix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }
}
