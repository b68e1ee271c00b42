package graft.trck

import scala.collection.mutable

/** Reference-format JSON result rendering
  * (reference: src/results_json.c:233-295 — a single object for merged /
  * groupby-less runs, else an array of per-tuple objects with the foreach
  * params echoed back).
  */
object OutputJson {

  /** Explicitly-tagged multiset value: always renders as a JSON object,
    * including when empty (reference: src/results_json.c:162-186
    * multiset_to_json prints braces unconditionally — an empty multiset is
    * `{}`, never `[]`).
    */
  final case class Mset(entries: Vector[(String, Long)])

  private[graft] def esc(s: String): String =
    s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }

  private def renderValue(v: Any): String = v match {
    case l: Long   => l.toString
    case i: Int    => i.toString
    case s: String => "\"" + esc(s) + "\""
    case Mset(es) =>
      es.map { case (k, c) => "\"" + esc(k) + "\":" + c }
        .mkString("{", ",", "}")
    case xs: Vector[_] =>
      xs.map(x => "\"" + esc(x.toString) + "\"").mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }

  /** Driver-side render budget. Results are small by reference contract
    * (per-tuple counters/set tallies — the reason the reference renders
    * them in one buffer, src/results_json.c:233-295), but a pathological
    * set-yield program over a wide lexicon can render gigabytes; rather
    * than dying as an opaque driver OOM mid-string-build, [[render]]
    * fails fast with a clear message once the rendered size crosses this
    * bound — checked INCREMENTALLY (per map entry and per Mset/array
    * element), so even a single pathological ungrouped result stops at
    * ~the bound instead of materializing first. The bound is measured in
    * UTF-16 chars of the rendered string (≥ half the UTF-8 byte count,
    * = it for the ASCII-dominated JSON the sinks emit) — an OOM
    * pre-empter, not a wire-format quota. 256 MiB is ~100× the largest
    * legitimate result the golden corpus produces; pass an explicit
    * bound to raise it deliberately.
    */
  val DefaultMaxRenderBytes: Long = 256L << 20

  def render(outputs: Vector[mutable.LinkedHashMap[String, Any]], grouped: Boolean,
             maxRenderBytes: Long = DefaultMaxRenderBytes): String =
    if (!grouped) {
      val sb = new java.lang.StringBuilder
      appendOne(sb, outputs.head, maxRenderBytes)
      sb.toString
    } else {
      val sb = new java.lang.StringBuilder("[")
      var i = 0
      while (i < outputs.length) {
        if (i > 0) sb.append(",\n")
        appendOne(sb, outputs(i), maxRenderBytes)
        i += 1
      }
      sb.append("]").toString
    }

  private def appendOne(sb: java.lang.StringBuilder, m: mutable.LinkedHashMap[String, Any],
                        maxRenderBytes: Long): Unit = {
    sb.append('{')
    var first = true
    m.foreach { case (k, v) =>
      if (!first) sb.append(',')
      first = false
      sb.append('"').append(esc(k)).append("\":")
      appendValue(sb, v, maxRenderBytes)
      requireWithinBudget(sb.length.toLong, maxRenderBytes)
    }
    sb.append('}')
  }

  private def appendValue(sb: java.lang.StringBuilder, v: Any, maxRenderBytes: Long): Unit =
    v match {
      case Mset(es) =>
        sb.append('{')
        var first = true
        es.foreach { case (k, c) =>
          if (!first) sb.append(',')
          first = false
          sb.append('"').append(esc(k)).append("\":").append(c)
          requireWithinBudget(sb.length.toLong, maxRenderBytes)
        }
        sb.append('}')
      case xs: Vector[_] =>
        sb.append('[')
        var first = true
        xs.foreach { x =>
          if (!first) sb.append(',')
          first = false
          sb.append('"').append(esc(x.toString)).append('"')
          requireWithinBudget(sb.length.toLong, maxRenderBytes)
        }
        sb.append(']')
      case other => sb.append(renderValue(other))
    }

  private def requireWithinBudget(size: Long, maxRenderBytes: Long): Unit =
    if (size > maxRenderBytes)
      throw new IllegalStateException(
        s"JSON result exceeds the ${maxRenderBytes}-byte render budget — results are " +
          "driver-rendered (reference semantics: small per-tuple tallies); a set yield " +
          "over a huge lexicon should aggregate through the relational engine instead, " +
          "or pass a larger maxRenderBytes to OutputJson.render deliberately")
}
