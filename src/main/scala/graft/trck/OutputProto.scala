package graft.trck

import java.io.ByteArrayOutputStream

/** Length-prefixed protobuf result sink (reference: the generated
  * results_protobuf path, src/fsm2c.py:1051-1221 and
  * proto-example/Readme.md — S6 in the operator inventory, enabled by
  * `--output-format proto`).
  *
  * The reference compiles against a USER-supplied `trck.Result` message; the
  * wire contract is the naming convention plus three fixed helper types:
  *
  *  - `scalar_x` (string): echo of foreach param %x — one message per tuple;
  *  - `counter_x` (int64), `set_x` (repeated SetTuple), `multiset_x`
  *    (repeated MultisetTuple), `hll_x` (Hll);
  *  - SetTuple { repeated string values = 1 }
  *  - MultisetTuple { repeated string values = 1; uint64 count = 2 }
  *  - Hll { uint32 precision = 1; bool empty = 2; bytes bins = 3 }
  *    (bins = the RLE-hex serialization minus its 4-char precision prefix);
  *  - each message is preceded by an 8-byte little-endian length
  *    (reference: fwrite(&len, sizeof(unsigned long), 1, stdout)).
  *
  * Field numbers come from the user's .proto in the reference; here
  * `fieldNums` plays that role (full field names → tag numbers). The
  * default numbers fields 1..n in declaration order: scalar params, then
  * counters, sets, multisets, hlls. proto3 presence rules apply: zero
  * counters and empty sets/strings are omitted.
  */
object OutputProto {

  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def tag(out: ByteArrayOutputStream, field: Int, wireType: Int): Unit =
    varint(out, (field.toLong << 3) | wireType)

  private def lenDelim(out: ByteArrayOutputStream, field: Int, bytes: Array[Byte]): Unit = {
    tag(out, field, 2)
    varint(out, bytes.length.toLong)
    out.write(bytes, 0, bytes.length)
  }

  /** default field numbering: declaration order across the five families */
  def defaultFieldNums(prog: Compiled.CompiledProgram): Map[String, Int] = {
    val names =
      prog.groupbyVars.filter(_.startsWith("%")).map(v => "scalar_" + Ir.stripType(v)) ++
        prog.yieldCounters.map("counter_" + _) ++
        prog.yieldSets.map("set_" + _) ++
        prog.yieldMultisets.map("multiset_" + _) ++
        prog.yieldHlls.map("hll_" + _)
    names.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
  }

  /** decoded items of an encoded tuple, in order */
  private def tupleItems(enc: Array[Byte]): Vector[Array[Byte]] = {
    val items = Vector.newBuilder[Array[Byte]]
    var rest = enc
    while (rest.nonEmpty) {
      val (head, tail) = OutputMsgpack.extractHead(rest)
      items += head
      rest = tail
    }
    items.result()
  }

  private def setTuple(values: Vector[Array[Byte]], count: Option[Long]): Array[Byte] = {
    val b = new ByteArrayOutputStream(64)
    values.foreach(v => lenDelim(b, 1, v))
    count.foreach { c => tag(b, 2, 0); varint(b, c) }
    b.toByteArray
  }

  /** one Result message (no length prefix) */
  def message(
      r: Results,
      prog: Compiled.CompiledProgram,
      scalarEcho: Seq[(String, String)],
      fieldNums: Map[String, Int],
  ): Array[Byte] = {
    val out = new ByteArrayOutputStream(256)
    def num(n: String): Int =
      fieldNums.getOrElse(n, sys.error(s"no field number for $n"))

    scalarEcho.foreach { case (v, value) =>
      if (value.nonEmpty) lenDelim(out, num("scalar_" + Ir.stripType(v)), value.getBytes("UTF-8"))
    }
    r.counters.foreach { case (k, c) =>
      if (c != 0) { tag(out, num("counter_" + k), 0); varint(out, c) }
    }
    r.sets.foreach { case (k, m) =>
      m.keys.foreach(enc => lenDelim(out, num("set_" + k), setTuple(tupleItems(enc), None)))
    }
    r.msets.foreach { case (k, m) =>
      m.foreach { case (enc, c) => lenDelim(out, num("multiset_" + k), setTuple(tupleItems(enc), Some(c))) }
    }
    prog.yieldHlls.foreach { k =>
      val b = new ByteArrayOutputStream(64)
      r.hlls.get(k) match {
        case Some(h) =>
          tag(b, 1, 0); varint(b, Hll.P.toLong) // precision
          // empty=false omitted (proto3 default)
          val bins = h.toHexString.drop(4).getBytes("US-ASCII")
          if (bins.nonEmpty) lenDelim(b, 3, bins)
        case None =>
          tag(b, 1, 0); varint(b, Hll.P.toLong)
          tag(b, 2, 0); varint(b, 1L) // empty=true
      }
      lenDelim(out, num("hll_" + k), b.toByteArray)
    }
    out.toByteArray
  }

  /** full stream: one 8-byte-LE-length-prefixed message per result row */
  def render(out: LocalRunner.RunOutput, fieldNumsOpt: Option[Map[String, Int]] = None,
             maxRenderBytes: Long = OutputJson.DefaultMaxRenderBytes): Array[Byte] = {
    val fieldNums = fieldNumsOpt.getOrElse(defaultFieldNums(out.prog))
    val bos = new ByteArrayOutputStream(1024)
    // same per-tuple driver-side render budget as OutputJson/OutputMsgpack
    def emit(msg: Array[Byte]): Unit = {
      val len = msg.length.toLong
      var i = 0
      while (i < 8) { bos.write(((len >> (8 * i)) & 0xff).toInt); i += 1 }
      bos.write(msg, 0, msg.length)
      if (bos.size() > maxRenderBytes)
        throw new IllegalStateException(
          s"protobuf result exceeds the ${maxRenderBytes}-byte render budget — results " +
            "are driver-rendered (reference semantics: small per-tuple tallies); " +
            "aggregate huge set yields through the relational engine instead")
    }
    if (out.prog.groupbyVars.isEmpty || out.merged)
      emit(message(out.results.head, out.prog, Nil, fieldNums))
    else
      out.tuples.zip(out.results).foreach { case (t, r) =>
        val echo = out.prog.groupbyVars.zip(t.items).collect {
          case (v, Left(s)) if v.startsWith("%") => (v, s)
        }
        emit(message(r, out.prog, echo, fieldNums))
      }
    bos.toByteArray
  }
}
