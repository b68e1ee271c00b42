package graft

import org.apache.spark.sql.execution.ExplainMode

/** Prints formatted physical plans for representative queries and greps
  * them for the properties we require at scale: parquet filter pushdown,
  * column-pruned scan schemas, broadcast joins on dimensions, and
  * whole-stage codegen coverage. Run:
  * `sbt "runMain graft.PlanAudit [sfDir] [query...]"`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
    else Seq("q1_agg", "q5_join_broadcast", "f2_window_filter", "m1_fsm_count",
      "d_minhash_lsh", "ann_brute_topk", "d_embed_neardup_exact", "d_exact_dup")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      println(s"\n========== $n ==========")
      println(plan)
      val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(plan).toList.filterNot(_.contains("[]"))
      val schemas = "ReadSchema: [^\n]+".r.findAllIn(plan).toList
      val broadcasts = plan.linesIterator.count(l => l.contains("BroadcastHashJoin") || l.contains("BroadcastNestedLoopJoin"))
      val cartesian = plan.linesIterator.count(_.contains("CartesianProduct"))
      // whole-stage-codegen spans show as *(n) prefixes — but only on the
      // FINAL adaptive plan, so execute first (via the RDD, not collect():
      // a per-row query result would otherwise materialize on the driver)
      df.queryExecution.toRdd.foreachPartition((_: Iterator[_]) => ())
      val finalPlan = df.queryExecution.executedPlan.toString
      val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(finalPlan).map(_.group(1)).toSet.size
      println(s">>> $n: pushedFilterScans=${pushed.size} broadcastJoins=$broadcasts cartesian=$cartesian codegenSpans=$codegen")
      schemas.foreach(s => println(s">>> $n: $s"))
    }
    spark.stop()
  }
}
