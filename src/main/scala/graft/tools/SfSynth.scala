package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize an N× scale-up of an existing testdata dir for TIMING
  * measurements (the r14-verdict sf1 spot-bench ask — no sf1 fixture
  * exists on this host): each entity table is unioned N times with
  * entity keys shifted per copy (foreign keys shifted consistently, so
  * referential integrity and per-entity series shapes survive; the
  * calendar and the constant dims stay fixed, as they would at a real
  * higher SF). Text is re-tokenized with a copy-private prefix and
  * embeddings get per-copy hash noise so the LSH/ANN families see N×
  * organic corpora instead of N-cliques of exact duplicates (which
  * would measure an adversarial near-dup explosion, not scale).
  *
  * TIMING ONLY: the result is not oracle-comparable (text/vectors are
  * perturbed); correctness stays gated on the real SFs.
  *
  *   sbt "runMain graft.tools.SfSynth /root/testdata/sf0.1 /tmp/sf1x 10"
  */
object SfSynth {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf_synth10")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session.local()

    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val custSpan = span(tbl("customer"), "c_custkey")
    val ordSpan = span(tbl("orders"), "o_orderkey")
    val partSpan = span(tbl("part"), "p_partkey")
    val supSpan = span(tbl("supplier"), "s_suppkey")
    val docSpan = span(tbl("documents"), "doc_id")
    val vecSpan = span(tbl("embeddings"), "vec_id")
    val evSpan = span(tbl("events"), "event_id")
    val userSpan = span(tbl("events"), "user_id")

    /** N shifted copies: each key column offset by copy × its span. */
    def copies(name: String, shifts: Map[String, Long])(
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until n).map { i =>
        val base = shifts.foldLeft(tbl(name)) { case (d, (k, sp)) =>
          d.withColumn(k, (col(k) + lit(i.toLong * sp)).cast(d.schema(k).dataType))
        }
        extra(base, i)
      }.reduce(_ unionByName _)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"SFSYNTH $name written")
    }

    // constant dims pass through unchanged
    for (d <- Seq("nation", "region")) write(d, tbl(d))
    write("customer", copies("customer", Map("c_custkey" -> custSpan))())
    write("supplier", copies("supplier", Map("s_suppkey" -> supSpan))())
    write("part", copies("part", Map("p_partkey" -> partSpan))())
    write("orders", copies("orders",
      Map("o_orderkey" -> ordSpan, "o_custkey" -> custSpan))())
    write("lineitem", copies("lineitem",
      Map("l_orderkey" -> ordSpan, "l_partkey" -> partSpan,
        "l_suppkey" -> supSpan))())
    write("events", copies("events",
      Map("event_id" -> evSpan, "user_id" -> userSpan))())
    // copy-private token prefix: shingle/minhash spaces stay disjoint
    // across copies (no synthetic N-clique of near-dups), per-doc
    // token counts and lengths match the source distribution
    write("documents", copies("documents", Map("doc_id" -> docSpan)) {
      (d, i) =>
        if (i == 0) d
        else d.withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(lit(s"c$i"), t))))
    })
    // per-copy hash noise (~0.3 amplitude per dim) breaks cross-copy
    // cosine cliques while keeping the cluster geometry realistic
    write("embeddings", copies("embeddings", Map("vec_id" -> vecSpan)) {
      (d, i) =>
        if (i == 0) d
        else d.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            (x + (pmod(xxhash64(col("vec_id"), j, lit(i)), lit(1000)).cast("double")
              / lit(1000.0) - lit(0.5)) * lit(0.6)).cast("float")))
    })
    println(s"SFSYNTH done: $dst (${n}x of $src)")
    spark.stop()
  }
}
