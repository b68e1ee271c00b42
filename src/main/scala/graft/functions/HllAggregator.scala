package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

import graft.trck.Hll

/** trck-format HyperLogLog as a Spark `Aggregator`: input = raw item bytes
  * (hash-encoded exactly as the reference hashes tuples), buffer = the
  * 16 KiB register array, merge = register max — Spark's partial/final
  * aggregation IS the reference's thread-local→global merge
  * (reference: src/fsm2c.py:752-765, src/match_traildb.c:874-888).
  * Output: the reference's RLE-hex serialization.
  *
  * `approx_count_distinct` (HLL++) would give an estimate but not the trck
  * sketch format; this aggregator is output-parity-exact (SURVEY.md §7.4).
  */
object HllAggregator {

  /** Register-max union into `a` (null-tolerant on `b`) — the ONE dense
    * merge every aggregator below shares, so a future fix can never
    * silently miss a face.
    */
  private def registerMax(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    if (b != null) {
      var i = 0
      while (i < a.length && i < b.length) {
        if ((a(i) & 0xff) < (b(i) & 0xff)) a(i) = b(i)
        i += 1
      }
    }
    a
  }

  val toHex: Aggregator[Array[Byte], Array[Byte], String] =
    new Aggregator[Array[Byte], Array[Byte], String] {
      override def zero: Array[Byte] = new Array[Byte](Hll.M)
      override def reduce(buf: Array[Byte], item: Array[Byte]): Array[Byte] = {
        if (item != null) Hll.wrap(buf).add(item)
        buf
      }
      override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
        registerMax(a, b)
      // serializeRegisters: a group whose items were all null must emit the
      // reference's empty form "0e00", not a version-01 RLE of zeros
      override def finish(buf: Array[Byte]): String = Hll.serializeRegisters(buf)
      override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
      override def outputEncoder: Encoder[String] = Encoders.STRING
    }

  /** Column function: trck HLL sketch of a binary column. */
  def trckHllHex(c: Column): Column = udaf(toHex).apply(c)

  /** Estimate cardinality from a trck RLE-hex sketch string. */
  def estimate(hex: String): Double = Hll.fromHexString(hex).estimate

  /** Column form of [[estimate]] (sketches are tiny post-aggregation rows,
    * so a UDF here is off the hot path). NULL sketch → NULL estimate, like
    * any SQL function — not an NPE that fails the query.
    */
  val estimateUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((hex: String) => Option(hex).map(estimate))

  /** Merge-aggregator over dense register arrays with a BINARY result —
    * for iterative consumers (HyperBall's per-round ball union) that feed
    * the merged registers straight into the next round and would only pay
    * a decode for a hex form.
    */
  val mergeRegistersBinary: Aggregator[Array[Byte], Array[Byte], Array[Byte]] =
    new Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
      override def zero: Array[Byte] = new Array[Byte](Hll.M)
      override def reduce(buf: Array[Byte], regs: Array[Byte]): Array[Byte] =
        registerMax(buf, regs)
      override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
        registerMax(a, b)
      override def finish(buf: Array[Byte]): Array[Byte] = buf
      override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
      override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    }

  def trckHllMergeRegs(c: Column): Column = udaf(mergeRegistersBinary).apply(c)
}
