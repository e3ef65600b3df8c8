package graft.tools

import org.apache.spark.sql.functions._

/** Dev measurement: IVF recall@1 vs scanned-candidate fraction across
  * (cells, probe) configurations, against the q30 brute-force truth.
  * `sbt "runMain graft.tools.RecallCurve [sfDir]"`. */
object RecallCurve {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val nQueries = 20
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val brute = graft.operators.VectorOps.cosineTopk(spark, dir)
      .filter(col("rank") === 1).select(col("query_id"), col("cosine"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    println(f"collection=$total queries=$nQueries")
    for (cells <- Seq(8, 16, 32); probe <- Seq(1, 2, 4, 8, 12) if probe <= cells) {
      val sizes = graft.operators.VectorOps.ivfFile(spark, dir, cells)
        .groupBy(col("cell")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val probed = graft.operators.VectorOps.ivfQueryProbes(spark, dir, cells)
        .filter(col("vec_id") < nQueries && col("rn") <= probe)
        .select(col("vec_id"), col("centroid_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val scanned = probed.groupBy(_._1).values
        .map(_.map(p => sizes.getOrElse(p._2, 0L)).sum).sum.toDouble /
        (nQueries.toDouble * total)
      val ivf = graft.operators.VectorOps.annIvf(spark, dir, probe, cells)
        .filter(col("rank") === 1).select(col("query_id"), col("cosine"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val recall = brute.count { case (q, c) =>
        ivf.get(q).exists(x => math.abs(x - c) < 1e-9) }.toDouble / brute.size
      println(f"cells=$cells%2d probe=$probe%2d recall@1=$recall%.2f scanned=$scanned%.3f")
    }
    spark.stop()
  }
}
