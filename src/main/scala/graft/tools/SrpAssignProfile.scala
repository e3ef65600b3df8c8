package graft.tools

import org.apache.spark.sql.functions._

/** Diagnostic: decompose kmAssignSrp's wall at the ScalingWitness 1×
  * shape (50k docs, K=64, 8-bit bands) — signature cost, candidate
  * volume, fallback volume — to find why the bucketed assign measured
  * 16× the flat sampled fit instead of the designed ~2×. Not part of
  * the contract surface. */
object SrpAssignProfile {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(50000L)
    val k = args.lift(1).map(_.toInt).getOrElse(64)
    val rows = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = graft.Session.local()
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"SRPPROF $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    import spark.implicits._
    def mix(x: Long): Long = {
      var h = x * -7046029254386353131L
      h ^= (h >>> 32); h *= -4417276706812531889L; h ^= (h >>> 29); h
    }
    val docs = spark.range(n).map { i =>
      val c = i / 5
      val text = (0 until 40).map(j =>
        s"t${c}x${if (j == (i % 5) * 7) s"v$i" else j.toString}").mkString(" ")
      (i, text, "en", s"src${(c % 20).toInt}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("srpprof").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val v = graft.operators.VectorOps.docVectors(spark, dir).persist()
    t("docVectors")(println("  rows=" + v.count()))
    val fitSampled = t("kmFitSampled (fit+assign)")(
      graft.operators.VectorOps.kmFitSampled(v, k, n, intValued = true))
    fitSampled.unpersist()
    graft.operators.VectorOps.profileSrpAssign(v, k, n, rows)
    spark.stop()
  }
}
