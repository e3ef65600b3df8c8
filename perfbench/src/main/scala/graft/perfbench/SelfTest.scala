package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Checks of the span attribution itself, run before every traced run:
  *  - a job submitted from a thread spawned inside a span counts toward
  *    that span;
  *  - a job outside any span is counted as unattributed;
  *  - per-span job totals sum to the listener's global job count.
  * Returns the failures, empty when all hold. */
object SelfTest {
  val Checks = 3

  def run(spark: SparkSession): Seq[String] = {
    val sc = spark.sparkContext
    val t = new Trace(sc)
    try {
      def oneJob(): Long = sc.parallelize(1 to 10, 2).count()
      t.span("selftest.parent") {
        oneJob()
        val child = new Thread(() => { oneJob(); () })
        child.start()
        child.join()
      }
      oneJob()
      t.drain()
      val snap = t.snapshot()
      def jobs(span: String) = snap.get(span).map(_.jobs).getOrElse(0L)
      Seq(
        (jobs("selftest.parent") == 2, s"span with a child thread holds ${jobs("selftest.parent")} jobs, want 2"),
        (jobs(Trace.Unattributed) == 1, s"unattributed holds ${jobs(Trace.Unattributed)} jobs, want 1"),
        (snap.values.map(_.jobs).sum == t.jobsSeen,
          s"span totals ${snap.values.map(_.jobs).sum} != listener total ${t.jobsSeen}"))
        .collect { case (false, why) => s"selftest: $why" }
    } finally sc.removeSparkListener(t)
  }
}
