package graft

import graft.sources.LayerStore
import graft.util.SkewJoin
import org.apache.spark.sql.functions._

/** Scale-mechanism proofs at the plan level: salting preserves join
  * semantics while spreading hot keys. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("dedupClusters reliable checkpointing == local-checkpoint labels") {
    // the cluster-durable path (checkpoint() to shared storage) must
    // produce byte-identical labels to the fast local path q54 pins
    // against the oracle
    val local = graft.operators.TextOps.dedupClusters(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    // no checkpoint dir set -> the reliable path must refuse loudly.
    // Loud precondition, not a silent skip: if some earlier test ever
    // sets a checkpoint dir on the shared context, this assert fails
    // and the author moves this test — otherwise the fail-fast
    // contract below would silently lose its coverage.
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition broken: a checkpoint dir is already set — reorder this test")
    intercept[IllegalArgumentException] {
      graft.operators.TextOps.dedupClustersWith(spark, sf0001, reliable = true)
    }
    val ckpt = java.nio.file.Files.createTempDirectory("reliable_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    try {
      val reliable = graft.operators.TextOps.dedupClustersWith(spark, sf0001, reliable = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
      assert(reliable == local)
      // the rounds really went through the reliable checkpoint dir
      val wrote = java.nio.file.Files.walk(ckpt).filter(_.toFile.isFile).count()
      assert(wrote > 0, "no checkpoint files written — reliable path did not engage")
    } finally
      // clear the shared session's checkpoint dir (SparkContext maps a
      // null directory back to None) so later tests — and the
      // precondition assert above on re-runs — see the session as this
      // test found it
      spark.sparkContext.setCheckpointDir(null)
  }

  test("LSH candidate pairs grow linearly, not quadratically (minhash + SRP bands)") {
    // The empirical witness for the "survives 100 TB" claim on the
    // banded-LSH stacks: on a CLUSTERED corpus (the adversarial shape
    // — every doc has near-dups) candidate pairs must scale with the
    // number of clusters, i.e. ~linearly in N. An all-pairs or
    // constant-bucket design would grow ~quadratically (100× at 10×),
    // which is exactly the wall q51's 2×8-bit ancestor hit.
    val clusterSize = 5

    // synthetic clustered text: docs in a cluster share most 3-gram
    // shingles (one rotating token per member), clusters share none
    // (the cluster id is baked into every token). Deterministic.
    def docs(n: Int) = {
      val rows = (0 until n).map { i =>
        val c = i / clusterSize
        val text = (0 until 30).map(j =>
          s"t${c}x${if (j == (i % clusterSize) * 6) s"v$i" else j.toString}").mkString(" ")
        (i.toLong, text)
      }
      rows.toDF("doc_id", "text")
    }
    def textPairs(n: Int): Long = graft.operators.TextOps
      .candidatePairsOver(graft.operators.TextOps.bandsOver(docs(n))).count()
    val (tp1, tp10) = (textPairs(400), textPairs(4000))
    // within-cluster pairs exist at all…
    assert(tp1 >= 400 / clusterSize, s"minhash candidates implausibly few: $tp1")
    // …and 10× the corpus yields ~10× the pairs (2× slack), not ~100×
    assert(tp10 <= 20 * tp1,
      s"minhash candidate growth super-linear: $tp1 -> $tp10 at 10× data")

    // synthetic clustered embeddings: cluster center on an axis-ish
    // deterministic direction, members perturbed slightly -> high
    // within-cluster cosine, near-orthogonal across clusters
    def embs(n: Int) = {
      val rows = (0 until n).map { i =>
        val c = i / clusterSize
        // splitmix64 finalizer: a full-avalanche mix of the JOINT
        // (cluster, dim) index. Three earlier cuts of this fixture
        // failed instructively, each caught by the growth assert
        // below: `c % 13`-cyclic patterns gave 13 directions; uniform
        // ±1 amplitudes made ~27% of 8-dim projections cancel to 0,
        // handing those bits to a 7-pattern shared wiggle; and
        // `bits(c*K1 ^ d*K2)` is g(c)XOR h(d) bitwise — only 8
        // possible supports. Clustered ≠ correlated-by-construction.
        def mix(x: Long): Long = {
          var z = x + 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z ^ (z >>> 31)
        }
        val v = (0 until 64).map { d =>
          val m = mix(c.toLong * 64 + d)
          // ~8-dim support per cluster; amplitudes varied so no
          // hyperplane projection of a center is exactly zero, and
          // SIGNED (zero-centered, like real embeddings) — an
          // all-positive-orthant cut biased every SRP bit the same
          // way across clusters (per-bit agreement ~0.75 ⇒ bucket
          // pile-ups), a data property, not an LSH defect
          val amp = (1.0f + ((m >>> 10) & 3) * 0.25f) *
            (if (((m >>> 13) & 1) == 0) 1.0f else -1.0f)
          val center = if (((m >>> 7) & 7) == 0) amp else 0.0f
          // per-DOC hair: far below any nonzero center projection, so
          // within a cluster the SRP bits agree; unique per doc so it
          // can never correlate vectors across clusters
          val wiggle = (mix(i.toLong * 7919 + d) % 1009) * 2e-5f
          center + wiggle
        }.toArray
        (i.toLong, v, i % 4)
      }
      rows.toDF("vec_id", "embedding", "label")
    }
    def srpPairs(n: Int): Long = graft.operators.VectorOps
      .srpCandidatesOver(graft.operators.VectorOps.srpBandsOver(embs(n))).count()
    val (sp1, sp10) = (srpPairs(400), srpPairs(4000))
    assert(sp1 >= 400 / clusterSize, s"SRP candidates implausibly few: $sp1")
    assert(sp10 <= 20 * sp1,
      s"SRP candidate growth super-linear: $sp1 -> $sp10 at 10× data")
  }

  test("containment probes (q137) stay cluster-local: pair growth ~linear at 10x") {
    // the 100 TB question for the bottom-k probe design: each doc
    // fires K probes into the shingle index, so candidates are
    // bounded by the df of probed shingles — on a CLUSTERED corpus
    // (cluster-private vocabularies, the q22 fixture's shape) pairs
    // must scale with the number of clusters, ~linearly in N
    val clusterSize = 5
    def sh(n: Int) = {
      // doc i holds a 20-wide window of its cluster's 30-shingle pool:
      // within-cluster overlap >= 16/20 = 0.8 containment, zero across
      val rows = for { i <- 0 until n; j <- 0 until 20 } yield
        (i.toLong, f"c${i / clusterSize}%04ds${(i % clusterSize + j) % 30}%02d")
      rows.toDF("doc_id", "s")
    }
    def pairs(n: Int): Long = graft.operators.TextOps.containmentOver(sh(n)).count()
    val (p1, p10) = (pairs(400), pairs(4000))
    assert(p1 >= 400 / clusterSize, s"containment pairs implausibly few: $p1")
    assert(p10 <= 20 * p1,
      s"containment pair growth super-linear: $p1 -> $p10 at 10× data")
  }

  test("q137 probe stoplist: a corpus-wide boilerplate shingle stays ~linear") {
    // the hot-key failure mode the stoplist exists for: one shingle
    // present in EVERY doc, lexicographically first so that without
    // the df cap it would enter every doc's bottom-k probe set and the
    // probe join would fan out N×N on its key. With the cap the
    // CANDIDATE stage (where the blowup lives — the final output looks
    // linear either way because exact verification filters junk pairs,
    // at quadratic cost) must grow ~linearly with the corpus.
    val clusterSize = 5
    def sh(n: Int) = {
      val rows = for { i <- 0 until n; j <- 0 until 20 } yield
        (i.toLong, f"c${i / clusterSize}%04ds${(i % clusterSize + j) % 30}%02d")
      val hot = (0 until n).map(i => (i.toLong, "aaa_boilerplate"))
      (rows ++ hot).toDF("doc_id", "s")
    }
    def cands(n: Int): Long =
      graft.operators.TextOps.containmentCandidatesOver(sh(n)).count()
    val (c1, c10) = (cands(400), cands(4000))
    assert(c1 >= 400 / clusterSize, s"containment candidates implausibly few: $c1")
    assert(c1 <= 400L * 30, s"small-corpus candidates already blown up: $c1")
    assert(c10 <= 20 * c1,
      s"hot-shingle candidate growth super-linear: $c1 -> $c10 at 10× corpus " +
        "- the probe-side df stoplist is not bounding the fanout")
    // and recall survives the stoplist: true within-cluster containment
    // pairs are still produced from the informative shingles
    val out = graft.operators.TextOps.containmentOver(sh(400))
    assert(out.count() >= 400 / clusterSize,
      "stoplist destroyed recall on the clustered corpus")
  }

  test("k-means Lloyd fit recovers planted clusters; SemDeDup pair scope stays sub-quadratic") {
    // planted geometry: nC well-separated directions (the SRP fixture's
    // mixer), id -> cluster = id % nC so the sampled init (first K ids)
    // seeds one member per planted cluster — Lloyd must then recover
    // the planted partition exactly
    val nC = 10
    val n = 400
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val rows = (0 until n).map { i =>
      val c = i % nC
      val v = (0 until 64).map { d =>
        val m = mix(c.toLong * 64 + d)
        val amp = (1.0 + ((m >>> 10) & 3) * 0.25) *
          (if (((m >>> 13) & 1) == 0) 1.0 else -1.0)
        val center = if (((m >>> 7) & 7) == 0) amp else 0.0
        val wiggle = (mix(i.toLong * 7919 + d) % 1009) * 2e-5
        center + wiggle
      }.toArray
      (i.toLong, v, c)
    }
    val base = rows.toDF("vec_id", "e", "planted")
      .withColumn("norm2", graft.plans.DotProduct.dot_product(col("e"), col("e")))
    val fit = graft.operators.VectorOps
      .kmFit(base.select("vec_id", "e", "norm2"), nC, intValued = false)
    val asg = fit.select(col("vec_id"), col("cell"))
      .join(rows.toDF("vec_id", "e", "planted").select("vec_id", "planted"), "vec_id")
    val cells = asg.groupBy(col("cell"), col("planted")).count().collect()
    assert(cells.map(_.getAs[Long]("cell")).distinct.length == nC,
      "Lloyd fit lost cells on a well-separated fixture")
    // perfect purity: every learned cell contains exactly one planted
    // cluster (and by counting, vice versa)
    assert(cells.groupBy(_.getAs[Long]("cell")).forall(_._2.length == 1),
      "a learned cell mixes planted clusters")
    fit.unpersist() // kmFit persisted this frame — release it from the shared session

    // SemDeDup's cost claim: the within-cluster pair scope over the
    // real doc-vector assignment is a small fraction of all-pairs
    val sizes = graft.operators.VectorOps.docKmeansAssignment(spark, sf0001)
      .groupBy(col("cell")).count().collect().map(_.getAs[Long]("count"))
    val total = sizes.sum.toDouble
    val pairScope = sizes.map(c => c.toDouble * c).sum
    assert(pairScope / (total * total) <= 0.1,
      f"within-cluster pair scope ${pairScope / (total * total)}%.3f of all-pairs — clustering is not bounding the quadratic")
  }

  test("sampled-fit k-means (q109 production path) keeps the planted partition pure") {
    // the r12 scale path: Lloyd trains on a FIXED-size sample, the
    // frozen centroids assign the full corpus in one pass. With the
    // id % nC layout the half-corpus sample covers every planted
    // cluster (and the first-nC init seeds one member per cluster),
    // so the one-pass assignment must still put each planted
    // cluster's members into one pure cell — the invariant SemDeDup's
    // within-cell pair scope depends on.
    val nC = 10
    val n = 400
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val rows = (0 until n).map { i =>
      val c = i % nC
      val v = (0 until 64).map { d =>
        val m = mix(c.toLong * 64 + d)
        val amp = (1.0 + ((m >>> 10) & 3) * 0.25) *
          (if (((m >>> 13) & 1) == 0) 1.0 else -1.0)
        val center = if (((m >>> 7) & 7) == 0) amp else 0.0
        center + (mix(i.toLong * 7919 + d) % 1009) * 2e-5
      }.toArray
      (i.toLong, v, c)
    }
    val base = rows.toDF("vec_id", "e", "planted")
      .withColumn("norm2", graft.plans.DotProduct.dot_product(col("e"), col("e")))
    val fit = graft.operators.VectorOps.kmFitSampled(
      base.select("vec_id", "e", "norm2"), nC, sampleN = n / 2, intValued = false)
    val asg = fit.select(col("vec_id"), col("cell"))
      .join(rows.toDF("vec_id", "e", "planted").select("vec_id", "planted"), "vec_id")
    val cells = asg.groupBy(col("cell"), col("planted")).count().collect()
    assert(cells.map(_.getAs[Long]("cell")).distinct.length == nC,
      "sampled fit lost cells on a well-separated fixture")
    assert(cells.groupBy(_.getAs[Long]("cell")).forall(_._2.length == 1),
      "a sampled-fit cell mixes planted clusters")
    fit.unpersist()
  }

  test("MinHash scale dial (bandsOverScaled): wider bands keep recall, never add candidates") {
    // the r12 q22 dial: rows-per-band 3 (signature widened to 12, 4
    // bands kept). On the clustered fixture within-cluster Jaccard is
    // ~0.8, so 3-row bands still catch essentially every cluster
    // (J³ ≈ 0.5 per band, 4 bands), while unrelated docs' per-band
    // collision odds drop with the extra row — the dial must not
    // DISCOVER candidates the production setting misses en masse.
    val clusterSize = 5
    def docs(n: Int) = {
      val rows = (0 until n).map { i =>
        val c = i / clusterSize
        val text = (0 until 30).map(j =>
          s"t${c}x${if (j == (i % clusterSize) * 6) s"v$i" else j.toString}").mkString(" ")
        (i.toLong, text)
      }
      rows.toDF("doc_id", "text")
    }
    def pairsAt(n: Int, scaled: Boolean): Long = graft.operators.TextOps
      .candidatePairsOver(
        if (scaled) graft.operators.TextOps.bandsOverScaled(docs(n), rowsPerBand = 3)
        else graft.operators.TextOps.bandsOver(docs(n))).count()
    val prod = pairsAt(400, scaled = false)
    val dial = pairsAt(400, scaled = true)
    assert(dial >= 400 / clusterSize, s"scaled-band candidates implausibly few: $dial")
    assert(dial >= (prod * 8) / 10 && dial <= prod + prod / 20,
      s"scaled dial should trade a little recall for tighter buckets: prod=$prod dial=$dial")
    // and the dial's growth stays ~linear like the production row
    val dial10 = pairsAt(4000, scaled = true)
    assert(dial10 <= 20 * dial,
      s"scaled-band candidate growth super-linear: $dial -> $dial10 at 10× data")
  }

  test("salted join == plain join on a skewed fact") {
    // 90% of fact rows hit one key — the classic hot-key shape
    val fact = (1 to 10000).map(i =>
      (if (i % 10 == 0) (i % 100).toLong else 7L, i.toLong)).toDF("k", "v")
    val dim = (0L to 100L).map(k => (k, s"dim$k")).toDF("dk", "name")
    val plain = fact.join(dim, $"k" === $"dk").agg(
      count(lit(1)), sum($"v"), countDistinct($"name")).first()
    val salted = SkewJoin.saltedJoin(fact, dim, "k", "dk", salts = 8).agg(
      count(lit(1)), sum($"v"), countDistinct($"name")).first()
    assert(salted == plain)
    // and the salt actually spreads the hot key
    val spread = fact.withColumn("__salt", pmod(hash($"v"), lit(8)))
      .filter($"k" === 7).select("__salt").distinct().count()
    assert(spread == 8)
    // left variants stay fact-side-preserving (unmatched FACT rows
    // survive exactly once even though the dim is salt-replicated)
    val factMiss = fact.union(Seq((999L, 1L)).toDF("k", "v"))
    val leftn = SkewJoin.saltedJoin(factMiss, dim, "k", "dk", salts = 8, "left")
      .filter($"name".isNull).count()
    assert(leftn == 1)
    // dim-emitting types are rejected: unmatched dim rows would
    // duplicate once per salt (ADVICE r2)
    Seq("right", "full_outer", "full").foreach { jt =>
      val e = intercept[IllegalArgumentException] {
        SkewJoin.saltedJoin(fact, dim, "k", "dk", salts = 8, jt)
      }
      assert(e.getMessage.contains("not semantics-preserving"))
    }
  }

  test("two-stage salted aggregation == direct aggregation") {
    val fact = (1 to 20000).map(i =>
      (if (i % 20 == 0) (i % 50).toLong else 3L, (i % 97).toLong)).toDF("k", "v")
    val direct = fact.groupBy($"k").agg(sum($"v").as("sum_v"), count(lit(1)).as("count"))
      .orderBy($"k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val salted = SkewJoin.saltedSum(fact, "k", "v", salts = 8)
      .orderBy($"k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(salted.toSeq == direct.toSeq)
  }

  test("salted top-k (q104) == naive hot-key window on a Zipfian fixture") {
    import org.apache.spark.sql.expressions.Window
    // deliberately Zipfian: 90% of rows share one key — the naive
    // Window.partitionBy(key) would serialize them through one task
    val df = spark.range(20000).select(
      when($"id" % 10 < 9, lit("hot"))
        .otherwise(concat(lit("k"), ($"id" % 97).cast("string"))).as("k"),
      $"id".as("event_id"),
      (($"id" * 2654435761L) % 10007).cast("double").as("v"))
    val order = Seq($"v".desc, $"event_id")
    val naive = df
      .withColumn("rank", row_number().over(Window.partitionBy($"k").orderBy(order: _*)))
      .filter($"rank" <= 7)
    val salted = SkewJoin.saltedTopK(df, "k", order, k = 7, salts = 8)
    val cols = salted.columns.map(col)
    assert(salted.collect().map(_.toSeq).toSet ==
      naive.select(cols: _*).collect().map(_.toSeq).toSet,
      "salted top-k diverged from the naive window")
    // the plan spreads phase 1 over (key, salt) — the skew handling
    // is IN the plan, not an implementation hope
    val plan = salted.queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(plan).size >= 2 && plan.contains("__salt"),
      s"expected a two-phase salted window plan:\n$plan")
    // and the registered q104 runs through the same machinery
    val qplan = SparkEntry.queries("q104_hot_key_topk")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(qplan.contains("__salt"), "q104 lost its salt spreading")
  }

  test("approx distinct/percentile stay within tolerance of exact (opt-in scale path)") {
    val l = Tables.t(spark, sf0001, "lineitem")
    val row = l.agg(
      countDistinct($"l_partkey").as("exact_d"),
      approx_count_distinct($"l_partkey", 0.02).as("approx_d"),
      expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
      percentile_approx($"l_extendedprice", lit(0.5), lit(5000)).as("approx_p50")).first()
    val (exactD, approxD) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approxD - exactD).toDouble / exactD < 0.05,
      s"approx_count_distinct off: $approxD vs $exactD")
    val (exactP, approxP) = (row.getDouble(2), row.getDouble(3))
    assert(math.abs(approxP - exactP) / exactP < 0.01,
      s"percentile_approx off: $approxP vs $exactP")
  }

  test("labels are class labels, not geometric clusters (why q31 is 'filtered', q43 is IVF)") {
    val e = Tables.t(spark, sf0001, "embeddings")
      .select($"vec_id", $"label", posexplode($"embedding"))
      .select($"vec_id", $"label", $"pos", $"col".cast("double").as("x"))
    val centroids = e.groupBy($"label".as("clabel"), $"pos".as("cpos"))
      .agg(avg($"x").as("cx"))
    val d2 = e.join(centroids, $"pos" === $"cpos")
      .groupBy($"vec_id", $"label", $"clabel")
      .agg(sum(($"x" - $"cx") * ($"x" - $"cx")).as("dist2"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"vec_id").orderBy($"dist2", $"clabel")
    val assigned = d2.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    val agree = assigned.filter($"label" === $"clabel").count().toDouble /
      assigned.count()
    // measured ~0.37: labels carry no geometry — a label-restricted
    // search (q31) is a filter, not a quantizer; q43 computes real
    // cells from sampled centroids instead
    assert(agree < 0.9, f"labels unexpectedly geometric ($agree%.2f) — revisit q31/q43 framing")
  }

  test("IVF (q43) obeys the subset property vs brute force (q30)") {
    val brute = graft.operators.VectorOps.cosineTopk(spark, sf0001)
      .filter($"rank" === 1).select($"query_id", $"cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = graft.operators.VectorOps.annIvfSampled(spark, sf0001)
      .filter($"rank" === 1).select($"query_id", $"cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ivf.nonEmpty)
    // searching a subset can never beat the full search
    ivf.foreach { case (q, c) => assert(c <= brute(q) + 1e-9, s"query $q: ivf $c > brute ${brute(q)}") }
    val recall1 = ivf.count { case (q, c) => math.abs(c - brute(q)) < 1e-9 }.toDouble / brute.size
    info(f"IVF recall@1 (probe=1, 8 cells): $recall1%.2f")
    // multi-probe (q52): scanning 2 cells must dominate probe=1 —
    // the candidate set is a superset, so recall can only go up
    val ivf2 = graft.operators.VectorOps.annIvfProbe2(spark, sf0001)
      .filter($"rank" === 1).select($"query_id", $"cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf2.foreach { case (q, c) =>
      assert(c + 1e-9 >= ivf.getOrElse(q, Double.MinValue), s"query $q: probe2 $c < probe1")
      assert(c <= brute(q) + 1e-9, s"query $q: probe2 $c > brute ${brute(q)}")
    }
    val recall2 = ivf2.count { case (q, c) => math.abs(c - brute(q)) < 1e-9 }.toDouble / brute.size
    info(f"IVF recall@1 (probe=2, 8 cells): $recall2%.2f")
    assert(recall2 >= recall1)
  }

  test("IVF at 32 cells x probe 4 (q80): recall@1 >= 0.9 scanning << brute force") {
    // the production recall point (VectorOps.annIvfProbe4): both axes
    // of the dial measured here — cell count localizes, probe widens.
    // RecallCurve (tools) records the full grid; this pins the
    // recall floor AND the candidate bound so a quantizer regression
    // can't silently trade one for the other.
    import graft.operators.VectorOps
    val nQueries = 20
    val brute = VectorOps.cosineTopk(spark, sf0001)
      .filter($"rank" === 1).select($"query_id", $"cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def recallAt(probe: Int, cells: Int): Double = {
      val got = VectorOps.annIvf(spark, sf0001, probe, cells)
        .filter($"rank" === 1).select($"query_id", $"cosine").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      brute.count { case (q, c) =>
        got.get(q).exists(x => math.abs(x - c) < 1e-9) }.toDouble / brute.size
    }
    // curve points for the record (cells axis at fixed ~1/8 scan:
    // probe/cells constant)
    val r8 = recallAt(probe = 1, cells = 8)
    val r32 = recallAt(probe = 4, cells = 32)
    info(f"recall@1 at ~1/8 scanned: 8 cells x probe1 = $r8%.2f, 32 cells x probe4 = $r32%.2f")
    assert(r32 >= 0.9, f"q80 config recall $r32%.2f below the 0.9 floor")
    assert(r32 >= r8, "finer cells must not lose recall at the same scanned fraction")
    // candidate bound: the probed cells hold well under half the
    // collection per query (measured ~12.5%; assert with headroom)
    val sizes = VectorOps.ivfFile(spark, sf0001, cells = 32)
      .groupBy($"cell").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = sizes.values.sum.toDouble
    val scanned = VectorOps.ivfQueryProbes(spark, sf0001, cells = 32)
      .filter($"vec_id" < nQueries && $"rn" <= 4)
      .select($"vec_id", $"centroid_id").collect()
      .groupBy(_.getLong(0)).values
      .map(_.map(r => sizes.getOrElse(r.getLong(1), 0L)).sum).sum /
      (nQueries * total)
    info(f"scanned fraction at 32 cells x probe 4: $scanned%.3f")
    assert(scanned <= 0.25, f"scanned fraction $scanned%.3f not << brute force")
  }

  test("ANN recall floor survives a decade of growth at constant scanned fraction (K ∝ N)") {
    // the q80 production claim at TWO scales a decade apart: cells ∝ N
    // and probe ∝ cells hold the scanned FRACTION at ~probe/cells =
    // 1/8 while the 0.9 recall floor must survive. Same clustered
    // shape as the ScalingWitness corpora (tight clusters of 5 around
    // well-separated sparse centers), written as embeddings.parquet so
    // the q43/q80 plans run their real scan path. ScalingWitness
    // measures the same numbers at 20k/200k vectors into SCALING.md.
    def mix(x: Long): Long = {
      var h = x * -7046029254386353131L
      h ^= (h >>> 32); h *= -4417276706812531889L; h ^= (h >>> 29); h
    }
    def embsDir(n: Int): String = {
      val rows = (0 until n).map { i =>
        val c = i / 5
        val v = (0 until 64).map { d =>
          val m = mix(c.toLong * 64 + d)
          val amp = (1.0f + ((m >>> 10) & 3) * 0.25f) *
            (if (((m >>> 13) & 1) == 0) 1.0f else -1.0f)
          val center = if (((m >>> 7) & 7) == 0) amp else 0.0f
          center + (mix(i.toLong * 7919 + d) % 1009) * 2e-5f
        }.toArray
        (i.toLong, v, (i % 4))
      }
      val dir = java.nio.file.Files.createTempDirectory(s"graft-recall-$n").toString
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    for ((n, cells, probe) <- Seq((2000, 32, 4), (20000, 320, 40))) {
      val (r1, r3, scanned) = graft.operators.VectorOps.recallAt(
        spark, embsDir(n), probe, cells)
      info(f"n=$n cells=$cells probe=$probe recall@1=$r1%.2f recall@3=$r3%.2f scanned=$scanned%.3f")
      assert(r1 >= 0.9, f"recall@1 $r1%.2f below the 0.9 floor at n=$n")
      assert(r3 >= 0.9, f"recall@3 $r3%.2f below the 0.9 floor at n=$n")
      assert(scanned <= 0.25, f"scanned fraction $scanned%.3f not << brute at n=$n")
    }
  }

  test("SQ8 quantized search (q87): rank-1 neighbors match brute force") {
    // 8-bit scalar quantization stores 64 bytes instead of 64 floats
    // (4x memory at 100 TB); with 256 levels per dimension the
    // dequantization error is far below typical neighbor gaps, so the
    // approximate cosine ordering should agree with exact brute force
    // at rank 1 for nearly every query — only genuine near-ties may
    // swap. The floor catches any quantization-grid regression.
    import graft.operators.VectorOps
    val brute = VectorOps.cosineTopk(spark, sf0001)
      .filter($"rank" === 1).select($"query_id", $"neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sq8 = VectorOps.annSq8(spark, sf0001)
      .filter($"rank" === 1).select($"query_id", $"neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sq8.keySet == brute.keySet)
    val recall = brute.count { case (q, n) => sq8(q) == n }.toDouble / brute.size
    info(f"SQ8 recall@1 vs exact: $recall%.2f")
    assert(recall >= 0.9, f"SQ8 recall@1 $recall%.2f below the 0.9 floor")
  }

  test("PQ ADC + exact re-rank (q101): recall@1 >= 0.85 reading codes, not vectors") {
    // product quantization stores 8 codes/vector (vs 64 floats); the
    // ADC stage ranks by code-table lookups alone and only the
    // 64-deep shortlist ever re-reads original vectors. Sampled
    // 32-codeword books are crude (recall@1 0.15 codes-only at
    // sf0.01); the exact re-rank recovers 0.95 there. The floor
    // catches codebook/encode regressions; near-ties may still swap.
    import graft.operators.VectorOps
    val brute = VectorOps.cosineTopk(spark, sf0001)
      .filter($"rank" === 1).select($"query_id", $"neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pq = VectorOps.annPq(spark, sf0001)
      .filter($"rank" === 1).select($"query_id", $"neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pq.keySet == brute.keySet)
    val recall = brute.count { case (q, n) => pq(q) == n }.toDouble / brute.size
    info(f"PQ recall@1 vs exact: $recall%.2f")
    assert(recall >= 0.85, f"PQ recall@1 $recall%.2f below the 0.85 floor")
  }

  test("IVFPQ (q102): recall@1 >= 0.9 at a scanned fraction <= both parents'") {
    // the composed index must not lose what either axis delivers:
    // recall at least the 0.9 floor (q80's bar), while the ADC stage
    // reads codes of probed cells only — strictly fewer float-bytes
    // than q80 (full vectors of probed cells) AND than q101 (codes of
    // ALL vectors)
    import graft.operators.VectorOps
    val brute = VectorOps.cosineTopk(spark, sf0001)
      .filter($"rank" === 1).select($"query_id", $"neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivfpq = VectorOps.annIvfPq(spark, sf0001)
      .filter($"rank" === 1).select($"query_id", $"neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivfpq.keySet == brute.keySet)
    val recall = brute.count { case (q, n) => ivfpq(q) == n }.toDouble / brute.size
    info(f"IVFPQ recall@1 vs exact: $recall%.2f")
    assert(recall >= 0.9, f"IVFPQ recall@1 $recall%.2f below the 0.9 floor")

    // scanned fraction: probed-cell population share (the q80
    // measurement) × the PQ code-vs-float read ratio
    val nQueries = 20
    val sizes = VectorOps.ivfFile(spark, sf0001, cells = 32)
      .groupBy($"cell").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = sizes.values.sum.toDouble
    val cellFraction = VectorOps.ivfQueryProbes(spark, sf0001, cells = 32)
      .filter($"vec_id" < nQueries && $"rn" <= 4)
      .select($"vec_id", $"centroid_id").collect()
      .groupBy(_.getLong(0)).values
      .map(_.map(r => sizes.getOrElse(r.getLong(1), 0L)).sum).sum /
      (nQueries * total)
    val codeRatio = 8.0 / 64.0 // 8 one-byte-ish codes vs 64 float dims
    val byteFraction = cellFraction * codeRatio
    info(f"IVFPQ byte fraction: $byteFraction%.4f (q80 reads $cellFraction%.3f, q101 reads $codeRatio%.3f)")
    // the MEASURED probed-population share must stay well below brute
    // force (the IVF parent's bound) — byteFraction multiplies the
    // fixed 8/64 code ratio on top, so asserting the measured factor
    // is the non-tautological half of the "<= both parents" claim
    assert(cellFraction <= 0.25,
      f"probed population share $cellFraction%.3f — cells no longer localize")

    // codebook non-degeneracy: every subspace's inverted file must use
    // a healthy spread of codewords. The zero-residual-codebook bug
    // (codebook sampled from the coarse centroids themselves) collapses
    // every subspace to ONE code and this assert catches it
    val codeSpread = VectorOps.ivfPqCodes(spark, sf0001)
      .groupBy($"m").agg(countDistinct($"code").as("k")).collect()
    assert(codeSpread.length == 8, "a subspace produced no codes")
    assert(codeSpread.forall(_.getAs[Long]("k") >= 8),
      s"PQ codebook degenerate: distinct codes per subspace = " +
        codeSpread.map(r => s"m${r.getAs[Int]("m")}:${r.getAs[Long]("k")}").mkString(", "))
  }

  test("single-file scans spread to the session parallelism; broadcast sides do not") {
    // the fixtures are one single-row-group parquet file per table: an
    // unspread scan is ONE task and serializes every chain Catalyst
    // collapses into the scan stage (see Tables.spread)
    val fact = Tables.t(spark, sf0001, "lineitem")
    assert(fact.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism,
      "fact scan must fan out to the session parallelism")
    // embeddings feed broadcast build sides: a repartition ahead of a
    // broadcast only inserts a shuffle stage (measured in round 4)
    val emb = Tables.t(spark, sf0001, "embeddings")
    assert(emb.rdd.getNumPartitions <= 2, "embeddings scan must stay unspread")
  }

  test("KMV sketch merges associatively: per-split minima == whole-set minima") {
    // the q78 production-path claim: sketch each split independently,
    // merge by keeping the K smallest of the union — identical to
    // sketching the whole set in one pass. Property of top-K minima,
    // proven here on disjoint halves of the real fixture.
    val k = 256
    val hs = Tables.t(spark, sf0001, "lineitem")
      .select(md5($"l_orderkey".cast("string").cast("binary")).as("h"), $"l_orderkey")
    def topK(df: org.apache.spark.sql.DataFrame) =
      df.select("h").distinct().orderBy("h").limit(k)
    val whole = topK(hs).collect().map(_.getString(0)).toSeq
    val merged = topK(
      topK(hs.filter($"l_orderkey" % 2 === 0))
        .unionByName(topK(hs.filter($"l_orderkey" % 2 === 1))))
      .collect().map(_.getString(0)).toSeq
    assert(merged == whole, "merged per-split KMV minima must equal the one-pass minima")
  }

  test("Kmv API: split sketches merged via mergeMinima == one-pass sketch") {
    // the production surface of the property above: sketch() each
    // half, fold with the mergeMinima ARRAY expression, estimate once
    // — identical minima and identical estimate to one pass over the
    // whole set
    import graft.functions.Kmv
    val k = 64 // below l_orderkey's sf0.001 cardinality -> estimator path
    val l = Tables.t(spark, sf0001, "lineitem")
    val whole = Kmv.sketch(l, $"l_orderkey", k)
    val even = Kmv.sketch(l.filter($"l_orderkey" % 2 === 0), $"l_orderkey", k)
    val odd = Kmv.sketch(l.filter($"l_orderkey" % 2 === 1), $"l_orderkey", k)
    val merged = even.select($"minima".as("a"))
      .crossJoin(odd.select($"minima".as("b")))
      .select(Kmv.mergeMinima($"a", $"b", k).as("minima"))
    assert(merged.select($"minima").head().getSeq[String](0) ==
      whole.select($"minima").head().getSeq[String](0))
    assert(merged.select(Kmv.estimate($"minima", k)).head().getDouble(0) ==
      whole.select(Kmv.estimate($"minima", k)).head().getDouble(0))
  }

  test("Kmv estimates on sf0.01 are exact below K and inside the error bound above") {
    import graft.functions.Kmv
    val sf001 = "/root/testdata/sf0.01"
    val l = Tables.t(spark, sf001, "lineitem")
    val k = Kmv.DefaultK
    // 3-sigma of the KMV estimator's ≈1/sqrt(K−2) relative standard
    // error (Bar-Yossef et al. 2002) — the bound the API documents
    val bound = 3.0 / math.sqrt(k - 2.0)
    for (c <- Seq("l_orderkey", "l_partkey", "l_suppkey")) {
      val exact = l.select(col(c)).filter(col(c).isNotNull).distinct().count()
      val est = Kmv.distinctEstimate(l, col(c), k).head().getDouble(0)
      if (exact < k)
        assert(est == exact.toDouble, s"$c: sub-K cardinality must be EXACT")
      else
        assert(math.abs(est - exact) / exact <= bound,
          s"$c: |$est - $exact|/$exact above the ${bound} bound")
    }
    // both regimes actually exercised at this SF
    assert(l.select($"l_suppkey").distinct().count() < k)
    assert(l.select($"l_orderkey").distinct().count() > k)
  }

  test("nullProfile approx=kmv mode matches exact nulls and bounds the dup estimate") {
    import graft.operators.Eda
    val sf001 = "/root/testdata/sf0.01"
    val l = Tables.t(spark, sf001, "lineitem")
    val exact = Eda.nullProfileOver(l).head()
    val approx = Eda.nullProfileOver(l, approxKmv = true).head()
    val names = exact.schema.fieldNames
    assert(names.toSeq == approx.schema.fieldNames.toSeq,
      "approx mode must keep the exact schema")
    // null counters and totals are never approximated
    for ((n, i) <- names.zipWithIndex if n != "dup_part_supp_pairs")
      assert(exact.getLong(i) == approx.getLong(i), s"$n must stay exact")
    // the dup estimate: dups = pairs − distinct(pairs); the KMV error
    // lives entirely in the distinct term, so |dup_est − dup_exact| ≤
    // bound × distinct_pairs
    val di = names.indexOf("dup_part_supp_pairs")
    val pairs = exact.getLong(names.indexOf("total_rows")) // all pairs set in this fixture
    val distinctPairs = pairs - exact.getLong(di)
    val bound = 3.0 / math.sqrt(Kmv256 - 2.0)
    assert(math.abs(approx.getLong(di) - exact.getLong(di)).toDouble <=
      bound * distinctPairs,
      s"dup estimate ${approx.getLong(di)} vs exact ${exact.getLong(di)} outside bound")
  }
  private val Kmv256 = graft.functions.Kmv.DefaultK

  test("q124 pagerank invariants: damping floor and truncation-bounded mass") {
    // every node's rank has the 0.15·S damping floor; integer
    // truncation can only LOSE mass, so the total never exceeds the
    // initial N·S — the two properties that catch a broken contrib
    // split (divide before sum, wrong degree) at any graph size
    val pr = graft.operators.TextOps.pagerank(spark, sf0001)
      .select($"pr_scaled").as[Long].collect()
    assert(pr.nonEmpty)
    assert(pr.forall(_ >= 150000L), s"rank below the damping floor: ${pr.min}")
    assert(pr.sum <= pr.length * 1000000L,
      s"mass grew: ${pr.sum} > ${pr.length * 1000000L}")
  }

  test("applyCdc replay converges on random batches") {
    // randomized idempotence: a change log applied twice (the
    // crashed-job retry) leaves the CDC table exactly as a single
    // application would
    val rnd = new scala.util.Random(7)
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val store = new LayerStore(spark, dir)
    val log = (1 to 30).map(i => (rnd.nextInt(6).toLong + 1,
      s"v$i", if (rnd.nextInt(4) == 0) "D" else "U", i.toLong))
      .toDF("k", "v", "op", "lsn")
    store.applyCdc("silver", "c", log, Seq("k"), "lsn")
    val once = store.table("silver", "c").orderBy("k")
      .collect().map(_.toSeq).toSeq
    store.applyCdc("silver", "c", log, Seq("k"), "lsn")
    assert(store.table("silver", "c").orderBy("k")
      .collect().map(_.toSeq).toSeq == once)
  }
}
