package graft

import org.apache.spark.sql.functions._

import graft.trck.OutputJson

/** Trail-store → reference-test-format JSON dump (the analog of
  * bin/tdb2json:7-24 — S3 in the operator inventory): reads a parquet
  * events path and prints `{cookie: [{timestamp, field: value, …}…]}` with
  * per-trail time order, the exact shape `Trck` and the golden harness
  * consume, closing the round-trip (json2tdb ≙ reading that JSON back).
  *
  * Usage: `runMain graft.Tdb2Json <events.parquet> [--uuid-col c]
  * [--ts-col c] [--limit n]`. The dump streams per-trail through
  * toLocalIterator — driver memory is O(trail), not O(table).
  */
object Tdb2Json {
  def main(args: Array[String]): Unit = {
    var uuidCol = "uuid"
    var tsCol = "ts"
    var limit = -1
    var tiebreak: List[String] = Nil
    var path: String = null
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--uuid-col"     => uuidCol = args(i + 1); i += 2
        case "--ts-col"       => tsCol = args(i + 1); i += 2
        case "--limit"        => limit = args(i + 1).toInt; i += 2
        case "--tiebreak-col" => tiebreak ::= args(i + 1); i += 2
        case p                => path = p; i += 1
      }
    }
    require(path != null,
      "usage: Tdb2Json <events.parquet> [--uuid-col c] [--ts-col c] [--tiebreak-col c] [--limit n]")

    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df0 = spark.read.parquet(path)
    val fields = df0.columns.filterNot(c => c == uuidCol || c == tsCol).toSeq
    val limited =
      if (limit < 0) df0
      else {
        import spark.implicits._
        val keep = df0.select(col(uuidCol)).distinct().orderBy(uuidCol).limit(limit)
        df0.join(broadcast(keep), Seq(uuidCol), "left_semi")
      }
    // sort BEFORE the string-cast projection so tiebreak columns order by
    // their native types; the narrow select preserves intra-partition order
    val sorted = limited
      .filter(col(uuidCol).isNotNull && col(tsCol).isNotNull) // undumpable rows
      .repartition(col(uuidCol))
      .sortWithinPartitions(
        col(uuidCol).cast("string") +: Tables.tsLong(df0, tsCol) +: tiebreak.reverse.map(col): _*)
      .select(
        col(uuidCol).cast("string").as("__uuid") +:
          Tables.tsLong(df0, tsCol).as("__ts") +:
          fields.map(c => col(c).cast("string").as(c)): _*)

    // stream row by row to stdout; trails are contiguous per partition so
    // nothing beyond the current row lives on the driver
    val w = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(System.out, "UTF-8"), 1 << 16))
    var curUuid: String = null
    val it = sorted.toLocalIterator()
    def esc(s: String): String = OutputJson.esc(s)
    w.print("{")
    while (it.hasNext) {
      val r = it.next()
      val u = r.getString(0)
      if (u != curUuid) {
        if (curUuid != null) w.print("],")
        w.print("\"" + esc(u) + "\":[")
        curUuid = u
      } else w.print(",")
      w.print("{\"timestamp\":" + r.getLong(1))
      var i = 0
      while (i < fields.length) {
        val v = r.getString(2 + i)
        if (v != null) w.print(",\"" + esc(fields(i)) + "\":\"" + esc(v) + "\"")
        i += 1
      }
      w.print("}")
    }
    if (curUuid != null) w.print("]")
    w.print("}")
    w.println()
    w.flush()
    spark.stop()
  }
}
