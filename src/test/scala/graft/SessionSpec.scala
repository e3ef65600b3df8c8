package graft

import graft.plans.{AsOf, AsOfJoinStrategy}

/** The session factory's settings, and the idempotent planner-strategy
  * install every `AsOf.join` call goes through. */
class SessionSpec extends SparkSpec {
  import spark.implicits._

  test("Session.local(4): UTC, 4 shuffle partitions, no UI, FAIR") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.getConf.get("spark.scheduler.mode") == "FAIR")
  }

  test("two AsOf.join calls install exactly one AsOfJoinStrategy") {
    val l = Seq((1L, 10L)).toDF("k", "t")
    val r = Seq((1L, 5L, "a")).toDF("rk", "rt", "v")
    val first = AsOf.join(l, r, Seq("k"), Seq("rk"), "t", "rt")
    val second = AsOf.join(l, r, Seq("k"), Seq("rk"), "t", "rt")
    assert(spark.experimental.extraStrategies.count(_ == AsOfJoinStrategy) == 1)
    assert(first.select("v").as[String].collect().toSeq == Seq("a"))
    assert(second.count() == 1)
  }
}
