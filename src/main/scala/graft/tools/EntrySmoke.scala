package graft.tools

/** Dev smoke: call SparkEntry.entry the way the driver does and print
  * the row count. `sbt "runMain graft.tools.EntrySmoke"`. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val df = graft.SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(3, truncate = false)
    spark.stop()
  }
}
