package graft

/** Run one registered query and print its result — the cookbook's
  * spark-submit entry point (any registered name works under plain
  * `sbt runMain` too):
  *
  * {{{
  * spark-submit --class graft.RunQuery \
  *   target/trckspark-assembly-0.1.0.jar <sfDir> <query> [maxRows]
  * }}}
  *
  * Under spark-submit the submitted master/conf win (see [[GraftSession]]);
  * standalone it falls back to local[SPARK_GRAFT_CPUS] (default: every
  * available processor). Exits nonzero on an unknown query name, listing
  * the registry.
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.RunQuery <sfDir> <query> [maxRows]")
      System.err.println(s"queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val Array(dir, name) = args.take(2)
    val maxRows = args.lift(2).map(_.toInt).getOrElse(100)
    SparkEntry.queries.get(name) match {
      case None =>
        System.err.println(s"unknown query '$name'")
        System.err.println(s"queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
        sys.exit(2)
      case Some(fn) =>
        val spark = GraftSession.builder().getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        fn(spark, dir).show(maxRows, truncate = false)
        spark.stop()
    }
  }
}
