package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in oracle SQL would otherwise break oracle_sql.json
    * for every reader and silently zero the correctness compare.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). A local-iteration third arg
    // narrows the dump to a comma-separated query subset — validated
    // against the registry, because a typo'd name silently dumping nothing
    // would leave the previous dump in place and compare.py would read a
    // false green for the very operator being re-oracled.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (names.isEmpty || unknown.nonEmpty) {
        System.err.println(
          s"[verify] unknown or empty query subset: ${unknown.toSeq.sorted.mkString(", ")}")
        System.err.println(
          s"[verify] registry: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
        sys.exit(2)
      }
    }
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // Subset runs narrow oracle_sql.json to the subset too: compare.py
    // walks the oracle map, and a full map over a reused outDir would
    // report stale greens for every non-subset parquet dump left behind
    // by an earlier full run.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    only.foreach { names =>
      System.err.println(
        s"[verify] subset run (${names.size} queries): non-subset dumps in " +
          s"$outDir are STALE - do not compare them")
    }
    spark.stop()
  }
}
