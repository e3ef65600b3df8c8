package graft.tools

import org.apache.spark.sql.functions._

/** Measurement harness behind the witness's min-of-2 wall rule. The
  * r12 first clean witness printed wall exp 1.52 for the q137
  * boilerplate cell (80 s at 500k docs, clean cal) — suspected
  * stoplist-join skew (the boilerplate shingle keys carry n rows
  * each). This lab REFUTED that: per-phase timings show the probe
  * build at 58-75 s on its FIRST execution and ~7 s warm in the same
  * session (candidates join likewise), i.e. the excess is one-time
  * JIT + heap-growth cost, not a skew property — warm boilerplate
  * cost equals the plain corpus's. Kept as the evidence behind
  * ScalingWitness.addCell's min-of-2 walls.
  *
  *   sbt "runMain graft.tools.ContainSkewLab [docs]"   (default 500k)
  */
object ContainSkewLab {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(500000L)
    val spark = graft.Session.local()
    import spark.implicits._
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime(); val r = body
      println(f"PHASE $label%-34s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = spark.range(n).map { i =>
      val c = i / 5
      val text = "b0 b1 b2 b3 " + (0 until 40).map(j =>
        s"t${c}x${if (j == (i % 5) * 7) s"v$i" else j.toString}").mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("skewlab").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dtab = spark.read.parquet(s"$dir/documents.parquet")
    def sh = dtab
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shinglesOf(col("toks"))).as("s"))
    for (pass <- 1 to 2) {
      val probes = t(s"probe build p$pass") {
        val p = graft.operators.TextOps.containProbesOver(sh).persist()
        println("  probes=" + p.count()); p
      }
      t(s"candidates join p$pass") {
        println("  cands=" + graft.operators.TextOps
          .candidatesFromProbesForLab(probes, sh).count())
      }
      probes.unpersist()
    }
    spark.stop()
  }
}
