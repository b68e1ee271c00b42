package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native word-`k`-shingle hashing: `shingle_hash64(text, k)` returns the
  * xxhash64 (seed 42, Spark's family) of every k-word shingle of `text`,
  * with exactly the tokenization and edge semantics of the composable
  * chain it replaces:
  *
  * {{{ transform(sequence(...), i => xxhash64(concat_ws(" ",
  *     slice(split(trim(text), "\\s+"), i+1, k)))) }}}
  *
  * i.e. trim strips leading/trailing SPACE (0x20) only, tokens split on
  * runs of Java-regex `\s` (the six ASCII whitespace chars — safe to scan
  * at the byte level in UTF-8), a leading/trailing non-space whitespace
  * run yields an empty edge token (Java split limit -1 semantics), and a
  * text with fewer than k tokens yields ONE shingle = all tokens joined.
  *
  * Why it exists: the composable chain materializes the word array, then
  * one String per shingle via slice+concat_ws — O(n·k) char copies plus
  * per-shingle allocation, measured as the dominant cost of both
  * `c_decontaminate` and `c_repetition` (r6/r7 profilers, since deleted —
  * protocol in graft.Bench — sf0.1: gram construction ≈ 2.1-2.8 s of
  * ~3 s totals; with this expression wired in, both queries run 0.55-0.7 s).
  * This expression does one byte scan for token ranges and hashes each
  * shingle out of a reused buffer — no word array, no shingle strings —
  * and stays inside whole-stage codegen (doGenCode emits a static call).
  *
  * Equality contract: equal word sequences ⇔ equal shingle bytes (tokens
  * byte-equal, single-space joined) ⇒ equal hashes; distinct shingles
  * collide with p ≈ n²/2⁶⁵ (negligible at any corpus size vs the 60-bit
  * md5 family this replaces on the curation paths). Oracles that used to
  * mirror the md5-60 keys join on the raw shingle STRINGS instead — the
  * exact semantics, hash-free.
  */
case class ShingleHash64(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash64"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def nullSafeEval(s: Any): Any =
    ShingleHash64.compute(s.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.ShingleHash64.compute($s, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHash64 {
  private val Seed = 42L // Spark's xxhash64 seed

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Static entry the generated code calls (Scala object ⇒ Java static
    * forwarder on the companion class). One byte scan + one reused shingle
    * buffer; returns a primitive long array wrapped without copying.
    */
  def compute(s: UTF8String, k: Int): ArrayData = {
    // trim: SPACE only, matching Spark's trim()
    val all = s.getBytes
    var lo = 0
    var hi = all.length
    while (lo < hi && all(lo) == ' ') lo += 1
    while (hi > lo && all(hi - 1) == ' ') hi -= 1

    // token ranges under Java split("\\s+", -1) semantics on the trimmed
    // bytes: a leading ws run emits an empty first token; N words have
    // N-1+edge separators; an all-ws or empty string is ONE empty token
    var nTok = 0
    var starts = new Array[Int](8)
    var ends = new Array[Int](8)
    def push(a: Int, b: Int): Unit = {
      if (nTok == starts.length) {
        starts = java.util.Arrays.copyOf(starts, nTok * 2)
        ends = java.util.Arrays.copyOf(ends, nTok * 2)
      }
      starts(nTok) = a; ends(nTok) = b; nTok += 1
    }
    var i = lo
    if (lo == hi) push(lo, lo) // "" splits to [""]
    else {
      if (isWs(all(i))) { // leading non-space ws ⇒ empty edge token
        push(i, i)
        while (i < hi && isWs(all(i))) i += 1
        if (i == hi) push(hi, hi) // all-ws ⇒ trailing empty token too
      }
      while (i < hi) {
        val st = i
        while (i < hi && !isWs(all(i))) i += 1
        push(st, i)
        if (i < hi) {
          while (i < hi && isWs(all(i))) i += 1
          if (i == hi) push(hi, hi) // trailing ws run ⇒ trailing empty token
        }
      }
    }

    val out =
      if (nTok < k) {
        // single shingle: all tokens joined by ' '
        Array(hashShingle(all, starts, ends, 0, nTok))
      } else {
        val n = nTok - k + 1
        val arr = new Array[Long](n)
        var j = 0
        while (j < n) {
          arr(j) = hashShingle(all, starts, ends, j, k)
          j += 1
        }
        arr
      }
    ArrayData.toArrayData(out)
  }

  /** xxhash64 of tokens [from, from+len) joined by single spaces, built in
    * a thread-local buffer (no String, no per-call allocation once warm).
    */
  private def hashShingle(bytes: Array[Byte], starts: Array[Int], ends: Array[Int],
                          from: Int, len: Int): Long = {
    var need = math.max(len - 1, 0)
    var t = from
    val until = from + len
    while (t < until) { need += ends(t) - starts(t); t += 1 }
    var buf = local.get()
    if (buf.length < need) {
      // grow to the next power of two in Long math (Integer.highestOneBit*2
      // goes negative for need >= 2^30), clamped to the max array size
      val grown = java.lang.Long.highestOneBit(math.max(need, 64).toLong) * 2L
      buf = new Array[Byte](math.min(grown, Int.MaxValue - 8L).toInt max need)
      local.set(buf)
    }
    var p = 0
    t = from
    while (t < until) {
      if (t > from) { buf(p) = ' '; p += 1 }
      val n = ends(t) - starts(t)
      System.arraycopy(bytes, starts(t), buf, p, n)
      p += n
      t += 1
    }
    XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, p, Seed)
  }

  private val local = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](256)
  }

  /** Column API entry point. */
  def apply(text: Column, k: Int): Column =
    ColumnBridge.toColumn(ShingleHash64(ColumnBridge.toExpression(text), k))
}
