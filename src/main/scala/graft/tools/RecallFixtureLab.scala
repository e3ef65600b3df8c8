package graft.tools

/** One-off dial-finder for the SCALING.md ANN recall fixture (the r13
  * ask: a fixture that CAN fail): sweeps the cluster-noise amplitude
  * of ScalingWitness.embsNoisy at the 1× witness scale and prints
  * recall@1/@3 for the q80 production point (cells=32, probe=4), so
  * the witness ships a noise level where brute-force truth has real
  * cross-cell competition — sub-1.00 recall that still clears the 0.9
  * floor — instead of the clustered fixture's saturated 1.00/1.00.
  *
  *   sbt "runMain graft.tools.RecallFixtureLab [nVecs] [noise ...]"
  */
object RecallFixtureLab {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(20000L)
    val noises = if (args.length > 1) args.drop(1).map(_.toDouble).toSeq
      else Seq(0.1, 0.2, 0.3, 0.4, 0.6)
    val spark = graft.Session.local()
    for (noise <- noises) {
      val dir = java.nio.file.Files.createTempDirectory(s"rfl_$noise").toString
      ScalingWitness.embsNoisy(spark, n, noise)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val (r1, r3, scanned) =
        graft.operators.VectorOps.recallAt(spark, dir, probe = 4, cells = 32,
          queryLo = n / 2)
      println(f"noise=$noise%.2f n=$n recall@1=$r1%.3f recall@3=$r3%.3f scanned=$scanned%.3f")
    }
    spark.stop()
  }
}
