package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: the pipeline CLI, `Bench`,
  * `Verify`, the tools and the test suites all start here, so they
  * run with the same settings. No extensions are installed: planner
  * strategies install lazily and idempotently where they are used
  * (`plans.AsOf.join`), because `SparkEntry` is handed sessions it did
  * not build. */
object Session {
  /** Local task slots: `SPARK_GRAFT_CPUS`, else every available core. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with one shuffle partition per slot, FAIR job
    * scheduling, UTC session time, no UI, WARN logging. Returns the
    * running session if one exists (`getOrCreate`). FAIR: the gold
    * builders and the bench preps submit concurrent jobs through
    * `util.Par.all`; Spark 4.1 puts them all in a default pool that is
    * itself FAIR, so they share the task slots instead of queueing
    * behind the first job's stages (at sf0.01 on 4 cores, `tools.TimeIt
    * prep_gold_marts prep_forecast_backtest prep_full_dispatch` ran
    * ~10% faster than under FIFO in every clean pair). */
  def local(cores: Int = Session.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
