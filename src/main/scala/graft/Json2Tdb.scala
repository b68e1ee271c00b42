package graft

import graft.trck.LocalRunner
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Reference-test-format JSON → parquet trail store: the analog of
  * bin/json2tdb:17-52 and the inverse of [[Tdb2Json]] — it promotes a JSON
  * fixture (the shape the golden harness and the `Trck` CLI consume
  * directly) to the distributed parquet path, so the same fixture can run
  * the cluster engine. Both documented input shapes (bin/json2tdb:8-15)
  * are accepted: the "cookie" format `{cookie: [event…]}` and the
  * "simple" format `[event…]`, which gets the all-zero cookie (the
  * reference pads short cookies with NULs — an absent cookie is all
  * padding). The output schema is `uuid string, ts bigint` plus one
  * string column per field (the union of event keys minus "timestamp",
  * sorted for determinism); absent fields are written as "" because the
  * TrailDB data model stores EVERY field on every event
  * (bin/json2tdb:31 `e.get(of, '')`) — so Json2Tdb → [[Tdb2Json]]
  * reproduces exactly what the reference's json2tdb → tdb2json pair
  * prints. Per-trail timestamps must be monotonically non-decreasing,
  * fail-loud, replicating the constructor's guard (bin/json2tdb:40-41).
  *
  * Fixture-sized inputs by design (it replaces a unit-test helper): the
  * JSON parses on the driver, then writes through the normal distributed
  * writer. Corpus-scale JSON ingestion is `spark.read.json`, not this.
  *
  * Usage: `runMain graft.Json2Tdb <in.json> <out.parquet>
  * [--uuid-col c] [--ts-col c]`
  */
object Json2Tdb {

  /** All-zero 16-byte cookie in the hex form trails carry. */
  val ZeroCookie: String = "0" * 32

  private[graft] def parse(text: String): Seq[(String, Seq[LocalRunner.RawEvent])] =
    JsonMethods.parse(text) match {
      case JObject(trails) =>
        trails.map { case (cookie, events) =>
          cookie -> (events match {
            case JArray(es) => es.map(TrckParams.parseEvent)
            case other      => sys.error(s"trail '$cookie' must be an event array, got $other")
          })
        }
      case JArray(es) => Seq(ZeroCookie -> es.map(TrckParams.parseEvent))
      case other      => sys.error(s"expected cookie-format object or simple-format array, got $other")
    }

  def main(args: Array[String]): Unit = {
    var uuidCol = "uuid"
    var tsCol = "ts"
    var pos = List.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--uuid-col" => uuidCol = args(i + 1); i += 2
        case "--ts-col"   => tsCol = args(i + 1); i += 2
        case p            => pos = p :: pos; i += 1
      }
    }
    val Seq(inPath, outPath) = pos.reverse.toSeq match {
      case s @ Seq(_, _) => s
      case _ => sys.error("usage: Json2Tdb <in.json> <out.parquet> [--uuid-col c] [--ts-col c]")
    }

    val trails = parse(java.nio.file.Files.readString(java.nio.file.Paths.get(inPath)))
    trails.foreach { case (cookie, events) =>
      events.iterator.sliding(2).withPartial(false).foreach { pair =>
        require(pair(0).ts <= pair(1).ts,
          s"Timestamps must be increasing monotonically. cookie=$cookie " +
            s"prev_ts=${pair(0).ts}, ts=${pair(1).ts}")
      }
    }
    val fields = trails.iterator
      .flatMap(_._2.iterator.flatMap(_.fields.keys)).toSeq.distinct.sorted
    require(!fields.contains(uuidCol) && !fields.contains(tsCol),
      s"field names collide with --uuid-col/--ts-col ($uuidCol, $tsCol)")

    val schema = StructType(
      StructField(uuidCol, StringType, nullable = false) +:
        StructField(tsCol, LongType, nullable = false) +:
        fields.map(StructField(_, StringType, nullable = false)))
    val rows = trails.flatMap { case (cookie, events) =>
      events.map { e =>
        Row.fromSeq(cookie +: e.ts +: fields.map(f => e.fields.getOrElse(f, "")))
      }
    }

    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).write.mode("overwrite").parquet(outPath)
    System.err.println(
      s"[json2tdb] wrote ${rows.size} events / ${trails.size} trails / ${fields.size} fields to $outPath")
    spark.stop()
  }
}
