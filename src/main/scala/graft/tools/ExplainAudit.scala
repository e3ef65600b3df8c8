package graft.tools

/** Plan audit: prints the formatted physical plan of selected queries
  * and greps the signals that matter at scale — PushedFilters,
  * broadcast joins, WholeStageCodegen spans, Exchange counts.
  * `sbt "runMain graft.tools.ExplainAudit [query ...]"` */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    // env-tunable SF (and cores, via Session) so plan dumps can match
    // the bench's exact configuration (broadcast-threshold decisions
    // are size-dependent)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Session.local()
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q01_monthly_sales", "q04_dashboard", "q05_topk_customers", "q30_cosine_topk")
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"\n===== $name =====")
      val exchanges = "Exchange".r.findAllIn(plan).size
      val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
      val sortMerge = "SortMergeJoin".r.findAllIn(plan).size
      // formatted mode labels codegen spans as "(N)" stage ids; count
      // them in the simple plan's "*(" markers instead
      val codegen = "\\*\\(".r.findAllIn(df.queryExecution.executedPlan.toString).size
      println(s"exchanges=$exchanges broadcastJoins=$broadcasts sortMergeJoins=$sortMerge codegenSpans=$codegen")
      plan.linesIterator
        .filter(l => l.contains("PushedFilters") || l.contains("ReadSchema"))
        .take(12).foreach(l => println("  " + l.trim.take(160)))
      if (args.nonEmpty) println(plan) // full plan when explicitly asked
    }
    spark.stop()
  }
}
