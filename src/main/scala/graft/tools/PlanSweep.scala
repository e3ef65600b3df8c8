package graft.tools

/** One-line plan summary for every registered query: exchanges,
  * join strategies, cartesians. `sbt "runMain graft.tools.PlanSweep"` */
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).size
        println(f"$name%-28s ex=${n("Exchange")}%2d bhj=${n("BroadcastHashJoin")}%2d smj=${n("SortMergeJoin")}%2d bnlj=${n("BroadcastNestedLoopJoin")}%2d cart=${n("CartesianProduct")}%2d")
      } catch { case e: Throwable => println(s"$name PLAN-ERROR ${e.getMessage.take(80)}") }
    }
    spark.stop()
  }
}
