package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off scale witness for the dedup/ANN family (SCALING.md): runs
  * the candidate-generation stages of q22 (MinHash-LSH), q51
  * (SRP-LSH), q105 (incremental ingest dedup), and q109 (SemDeDup
  * pair scope) on CLUSTERED synthetic corpora at two scales a decade
  * apart — every doc/vector has near-dups, the adversarial shape — and
  * records candidate counts + wall time so the "~linear at 10×" claims
  * carry a measured exponent instead of a small-fixture assert.
  *
  * Not part of the test suite (it is a multi-minute run); invoke:
  *   sbt "runMain graft.tools.ScalingWitness [baseDocs] [baseVecs]"
  * Defaults: 50k docs / 20k vectors at 1×, 10× each at the top scale —
  * 500k docs is 100× the sf0.1 bench corpus. Writes SCALING.md.
  */
object ScalingWitness {

  private def mix(x: Long): Long = {
    var h = x * -7046029254386353131L
    h ^= (h >>> 32); h *= -4417276706812531889L; h ^= (h >>> 29); h
  }

  /** Clustered documents (clusters of 5 near-dups, cluster-private
    * vocabulary — the ScaleSpec fixture shape, at scale). */
  private def docs(s: SparkSession, n: Long): DataFrame = {
    import s.implicits._
    s.range(n).map { i =>
      val c = i / 5
      val text = (0 until 40).map(j =>
        s"t${c}x${if (j == (i % 5) * 7) s"v$i" else j.toString}").mkString(" ")
      (i, text, "en", s"src${(c % 20).toInt}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Clustered embeddings: the ScaleSpec SRP fixture shape at scale —
    * 64-dim (the testdata/plane dimensionality), ~8-dim signed sparse
    * support per cluster, per-doc hair far below any center
    * projection. */
  private def embs(s: SparkSession, n: Long): DataFrame = {
    import s.implicits._
    s.range(n).map { i =>
      val c = i / 5
      val v = (0 until 64).map { d =>
        val m = mix(c * 64 + d)
        val amp = (1.0f + ((m >>> 10) & 3) * 0.25f) *
          (if (((m >>> 13) & 1) == 0) 1.0f else -1.0f)
        val center = if (((m >>> 7) & 7) == 0) amp else 0.0f
        center + (mix(i * 7919 + d) % 1009) * 2e-5f
      }.toArray
      (i, v, (i % 4).toInt)
    }.toDF("vec_id", "embedding", "label")
  }

  /** One witness doc body (40 tokens, cluster-private vocabulary, one
    * member-variation token) — id-decoupled from the row index so
    * deltas and late batches can join EXISTING clusters. Matches the
    * docs() recipe exactly. */
  private def docText(c: Long, member: Long, vid: Long): String =
    (0 until 40).map(j =>
      s"t${c}x${if (j == (member % 5) * 7) s"v$vid" else j.toString}").mkString(" ")

  /** Stored ingest corpus with SPACED ids (i → i·10): the gaps host
    * the late-arrival retraction batch (an id below a stored near-dup
    * must exist for retraction to be reachable). Same clusters-of-5
    * shape as docs(). */
  private def spacedDocs(s: SparkSession, n: Long): DataFrame = {
    import s.implicits._
    s.range(n).map { i =>
      val id = i * 10
      (id, docText(i / 5, i % 5, id), "en", s"src${((i / 5) % 20).toInt}",
        0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Fixed-size re-crawl delta: `count` docs with fresh ids above the
    * stored max, each a new member of an EXISTING cluster.
    * recentOnly=true draws clusters from the stored top decile (the
    * re-crawl shape — candidate shingle fetches land in recent files
    * and the footer pruning skips the rest); false spreads matches
    * uniformly over the whole store (the pruning worst case — every
    * id-ranged file holds a candidate). */
  private def deltaDocs(s: SparkSession, n: Long, count: Long,
      recentOnly: Boolean): DataFrame = {
    import s.implicits._
    s.range(count).map { t =>
      val id = n * 10 + t * 10
      val clusters = n / 5
      val c = if (recentOnly) clusters - 1 - ((t * 13) % (clusters / 10))
      else (t * 7919) % clusters
      (id, docText(c, t % 5, id), "en", s"src${(c % 20).toInt}", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Fixed-size LATE batch: each doc takes the free id just below a
    * stored CLUSTER-MIN doc (the only member the one-shot build
    * accepts — the rest were rejected as its near-dups) and near-dups
    * it, so the smaller arriving id retracts exactly that accepted
    * doc under the set predicate. Targets spread over the whole
    * store. */
  private def lateDocs(s: SparkSession, n: Long, count: Long): DataFrame = {
    import s.implicits._
    val cstride = (n / 5) / count
    s.range(count).map { t =>
      val cTarget = (t + 1) * cstride - 1
      val target = 5 * cTarget // the cluster-min member index
      val id = target * 10 - 1
      (id, docText(cTarget, 0L, id), "en",
        s"src${(cTarget % 20).toInt}", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def copyTree(src: String, dst: String): Unit = {
    import scala.sys.process._
    require(Seq("cp", "-r", src, dst).! == 0, s"cp -r $src $dst failed")
  }

  private def deleteTree(p: String): Unit = {
    import scala.sys.process._
    Seq("rm", "-rf", p).!
    ()
  }

  /** The r13-ask recall fixture — clusters with a tunable per-dim
    * noise amplitude (uniform ~[-noise, noise] from the same mix
    * family) so the brute-force truth has REAL cross-cell
    * competition: at the witness's dial (see RecallFixtureLab) the
    * true neighbor sometimes sits across an IVF cell boundary and
    * recall can actually move, unlike the near-noiseless clustered
    * fixture where it saturates at 1.00. */
  private[tools] def embsNoisy(s: SparkSession, n: Long,
      noise: Double): DataFrame = {
    import s.implicits._
    s.range(n).map { i =>
      val c = i / 5
      val v = (0 until 64).map { d =>
        val m = mix(c * 64 + d)
        val amp = (1.0f + ((m >>> 10) & 3) * 0.25f) *
          (if (((m >>> 13) & 1) == 0) 1.0f else -1.0f)
        val center = if (((m >>> 7) & 7) == 0) amp else 0.0f
        center + ((mix(i * 7919 + d) % 1009) / 1009.0 * noise).toFloat
      }.toArray
      (i, v, (i % 4).toInt)
    }.toDF("vec_id", "embedding", "label")
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The Bench calibration spin, run before each cell: the r12 first
    * witness run landed its whole 1× phase in a host contention burst
    * and produced NEGATIVE wall exponents (1× walls 3-5× inflated);
    * recording the spin beside every wall makes that failure mode
    * visible in the artifact instead of silently corrupting the
    * exponents. Walls are only comparable when the two cells' cals
    * agree (~0.3-0.4 s clean on 32 threads). */
  private def cal(): Double = graft.Bench.calibrationSpin()

  case class Cell(op: String, scale: Long, count: Long, wall: Double,
    cal: Double)

  def main(args: Array[String]): Unit = {
    val baseDocs = args.lift(0).map(_.toLong).getOrElse(50000L)
    val baseVecs = args.lift(1).map(_.toLong).getOrElse(20000L)
    val spark = graft.Session.local()

    val results = collection.mutable.ArrayBuffer.empty[Cell]
    val recallRows = collection.mutable.ArrayBuffer.empty[String]

    /** Run one stage behind a bounded wait-for-clean-window (the
      * Bench retry rule): the spin must read near the host's clean
      * floor (~0.3-0.4 s) before the stage starts, so a contention
      * burst delays the measurement instead of corrupting it. The
      * spin that opened the window rides into the table. */
    var cellRuns = 2
    // min-of-N (the Bench timeit rule), N=4 at the cheap 1× scale,
    // 2 at 10×: a stage's FIRST execution at scale pays JIT +
    // heap-growth costs the steady state never sees again —
    // tools.ContainSkewLab measured the q137 boilerplate probe
    // build at 58-75 s first run vs 7 s warm in the same session —
    // and this host's ambient bursts are invisible to the ALU spin
    // (memory-bandwidth neighbors), so a burst spanning one run
    // must not own the cell; min over more samples only improves.
    // `sample` returns (count, wall) and may do untimed setup/teardown
    // of its own (the ingest cells copy a pristine store per run).
    def addCellWith(op: String, scale: Long)(sample: () => (Long, Double)): Unit = {
      var c0 = cal()
      var tries = 0
      while (c0 > 0.5 && tries < 18) { Thread.sleep(10000); c0 = cal(); tries += 1 }
      val samples = (1 to cellRuns).map(_ => sample())
      require(samples.map(_._1).distinct.size == 1,
        s"$op nondeterministic: ${samples.map(_._1)}")
      results += Cell(op, scale, samples.head._1, samples.map(_._2).min, c0)
    }
    def addCell(op: String, scale: Long)(body: => Long): Unit =
      addCellWith(op, scale)(() => timed(body))

    for (mult <- Seq(1L, 10L)) {
      cellRuns = if (mult == 1L) 4 else 2
      val nd = baseDocs * mult
      val nv = baseVecs * mult
      // materialize the corpora to parquet so every stage reads the
      // real file-scan path (and q105 can run its whole query on a dir)
      val dir = java.nio.file.Files.createTempDirectory(s"scaling_$mult").toString
      docs(spark, nd).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      embs(spark, nv).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      // q22: MinHash-LSH band candidates
      val dtab = spark.read.parquet(s"$dir/documents.parquet")
      addCell("q22_minhash_lsh_candidates", nd)(graft.operators.TextOps
        .candidatePairsOver(graft.operators.TextOps.bandsOver(
          dtab.select(col("doc_id"), col("text")))).count())
      // the r12 scale dial: rows-per-band grow with log₂ n (2 at 1×,
      // 3 at 10× — the q51 band-width path applied to MinHash), so
      // per-band false-collision probability shrinks ~1/n and the
      // bucket join's key populations stay bounded
      val rpb = if (mult == 1L) 2 else 3
      addCell("q22_minhash_scaled", nd)(graft.operators.TextOps
        .candidatePairsOver(graft.operators.TextOps.bandsOverScaled(
          dtab.select(col("doc_id"), col("text")), rpb)).count())

      // q51: SRP-LSH band candidates over the embeddings — measured at
      // the fixed production band width (16 bits -> 65,536 buckets per
      // band, where birthday cross-collisions grow ~n²/buckets and the
      // exponent drifts above 1 as n outgrows the bucket space) AND at
      // the widened setting the scale path prescribes (buckets ∝ n:
      // 24-bit bands at 10× hold collisions linear)
      val etab = spark.read.parquet(s"$dir/embeddings.parquet")
      addCell("q51_srp_lsh_candidates", nv)(graft.operators.VectorOps
        .srpCandidatesOver(graft.operators.VectorOps.srpBandsOver(etab)).count())
      val rows = if (mult == 1L) 16 else 24
      addCell("q51_srp_buckets_scaled", nv)(graft.operators.VectorOps
        .srpCandidatesOver(graft.operators.VectorOps.srpBandsOver(etab, rows)).count())

      // q137: containment probe candidates — bottom-k shingle probes
      // vs the full shingle index behind the probe-side df stoplist.
      // Measured twice: on the clustered corpus, and with a planted
      // corpus-wide boilerplate PREFIX on every doc (shingles that
      // sort before every informative shingle AND sit in every doc —
      // without the stoplist they fill all k probe slots and the
      // probe join goes quadratic on those keys)
      def shOf(d: DataFrame) = d
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.shinglesOf(col("toks"))).as("s"))
      addCell("q137_containment_candidates", nd)(graft.operators.TextOps
        .containmentCandidatesOver(shOf(dtab)).count())
      val boiler = dtab.withColumn("text",
        concat(lit("b0 b1 b2 b3 "), col("text")))
      addCell("q137_containment_boilerplate", nd)(graft.operators.TextOps
        .containmentCandidatesOver(shOf(boiler)).count())

      // q105: the full incremental ingest dedup query on the dir
      // (stored-band probe + exact verify + decisions). Each timing
      // runs against a FRESH symlink alias of the dir (the Bench
      // prep-retime trick): q105's stored index is a session memo
      // keyed on the dir string, so a bare second run would time a
      // cache hit instead of the whole query. Each run's alias
      // namespace is torn down afterwards — its persisted stored-index
      // copy unpersists (the memo entry is never re-read: the alias
      // string is fresh per run) and the symlink dir is deleted, so
      // the witness's own footprint stays flat across runs.
      addCell("q105_incremental_dedup_rows", nd) {
        val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
        val aliasRoot = java.nio.file.Files.createTempDirectory("scaling_alias")
        val alias = aliasRoot.resolve("sf").toString
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(alias), java.nio.file.Paths.get(dir))
        try graft.SparkEntry.queries("q105_incremental_dedup")(spark, alias).count()
        finally {
          spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
            if (!persistedBefore(id)) rdd.unpersist(false)
          }
          try {
            java.nio.file.Files.delete(java.nio.file.Paths.get(alias))
            java.nio.file.Files.delete(aliasRoot)
          } catch { case _: Throwable => () }
        }
      }

      // q109: SemDeDup pair scope with K ∝ N (the paper's recipe —
      // fixed K makes within-cell pairs quadratic BY DESIGN; the scale
      // path grows the cell count with the corpus). Count the actual
      // within-cell candidate pairs the dedup stage would score.
      val k = (64L * mult).toInt
      addCell("q109_semdedup_cell_pairs", nd) {
        val v = graft.operators.VectorOps.docVectors(spark, dir)
        val (asg, _) = graft.operators.VectorOps.kmFitFull(v, k, intValued = true)
        val ids = asg.select(col("cell"), col("vec_id"))
        val pairs = ids.as("a").join(ids.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.vec_id") < col("b.vec_id")).count()
        asg.unpersist()
        pairs
      }

      // q109 PRODUCTION fit (the r12 ask): Lloyd on a FIXED-size
      // sample (the base corpus size at both scales), then ONE
      // frozen-centroid assignment pass over the full corpus — the
      // SemDeDup/FAISS deployment recipe. Same K ∝ N cell budget and
      // the same within-cell pair count downstream.
      addCell("q109_semdedup_sampled", nd) {
        val v = graft.operators.VectorOps.docVectors(spark, dir)
        val asg = graft.operators.VectorOps.kmFitSampled(v, k, baseDocs, intValued = true)
        val ids = asg.select(col("cell"), col("vec_id"))
        val pairs = ids.as("a").join(ids.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.vec_id") < col("b.vec_id")).count()
        asg.unpersist()
        pairs
      }

      // q109 SRP-bucketed assignment (the r12 ask): sampled fit as
      // above, but the full-corpus pass assigns each doc only against
      // centroids sharing one of its SRP band buckets — the q52 probe
      // shape. Per-doc work = 96 signature dots + ~K·bands/2^rows
      // candidate cosines: at 8-bit bands that is 96+3 at K=64 and
      // 96+30 at K=640 (vs K for the flat scan), with the no-candidate
      // fallback probability ≈ e^-candidates staying negligible at
      // both scales — the dial is rows ≈ log₂(K·bands/C) for a target
      // candidate budget C, which holds per-doc work ~CONSTANT as
      // K ∝ N grows instead of the flat scan's N·K.
      val srpRows = 8
      addCell("q109_semdedup_srp_assign", nd) {
        val v = graft.operators.VectorOps.docVectors(spark, dir)
        val asg = graft.operators.VectorOps.kmFitSampledSrp(
          v, k, baseDocs, intValued = true, rowsPerBand = srpRows)
        val ids = asg.select(col("cell"), col("vec_id"))
        val pairs = ids.as("a").join(ids.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.vec_id") < col("b.vec_id")).count()
        asg.unpersist()
        pairs
      }

      // ---- steady-state streaming ingest (the r13 asks #1/#8): a
      // FIXED-size delta / late batch against a 1× vs 10× STORED
      // index — the regime a crawl pipeline lives in, which the q105
      // row (delta ∝ corpus) cannot see. The store is built once per
      // scale by the real streaming batch entry; every timed run
      // ingests into a fresh copy of it (untimed cp), so min-of-N
      // samples start from identical state. Files are capped at 20k
      // rows so file GRANULARITY is scale-independent — the property
      // that makes footer pruning's cost O(keys · file-size), not
      // O(corpus): a real deployment's fixed target file size.
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "20000")
      val storeDir = s"$dir/ingest_store"
      graft.streaming.StreamingPipeline.ingestCorpusBatch(
        spacedDocs(spark, nd), new graft.sources.LayerStore(spark, storeDir), 1L)
      def ingestCell(op: String, delta: DataFrame)(count: graft.sources.LayerStore => Long): Unit =
        addCellWith(op, nd) { () =>
          val copy = java.nio.file.Files.createTempDirectory("ing").toString + "/s"
          copyTree(storeDir, copy)
          val st = new graft.sources.LayerStore(spark, copy)
          val (_, w) = timed(
            graft.streaming.StreamingPipeline.ingestCorpusBatch(delta, st, 2L))
          val cnt = count(st)
          deleteTree(copy)
          (cnt, w)
        }
      // probe-work count for the delta cells: summed candidates over
      // the batch's decision rows (deterministic, and the quantity
      // whose growth would betray a band-bucket blowup)
      def deltaCands(st: graft.sources.LayerStore): Long =
        st.table("silver", "corpus_ingest_log")
          .filter(col("doc_id") >= nd * 10)
          .agg(sum(col("n_candidates"))).head().getLong(0)
      // re-crawl shape: matches in the stored top decile → candidate
      // fetches prune to recent files
      ingestCell("corpus_ingest_fixed_delta",
        deltaDocs(spark, nd, 5000L, recentOnly = true))(deltaCands)
      // adversarial spread: every id-ranged file holds a candidate —
      // the pruning worst case, whose cost is one parallel scan of
      // the shingle artifact
      ingestCell("corpus_ingest_delta_spread",
        deltaDocs(spark, nd, 5000L, recentOnly = false))(deltaCands)
      // late-arrival retraction: 5 spread smaller-id near-dups of
      // accepted docs — the order-tolerance correction path; cost
      // must scale with the retracted set (pruned point reads +
      // pruned file rewrites), never the corpus
      ingestCell("corpus_retraction", lateDocs(spark, nd, 5L)) { st =>
        st.table("silver", "corpus_retractions").count()
      }

      // ANN recall at scale: the q80 production point with the K ∝ N
      // cell dial (probe ∝ cells keeps the scanned fraction ~1/8 for
      // ANY witness multiplier). Two fixtures × three 20-query batches
      // drawn from MID-corpus ids — queryLo well above `cells`, so no
      // query is one of the sampled centroids: the r13 artifact's
      // queries WERE the centroids (vec_id < 20 ⊂ vec_id < cells),
      // whose own cell is always probed first — a dial that could not
      // fail. The `noisy` fixture (per-dim noise 0.3, RecallFixtureLab
      // dial) gives the brute-force truth real cross-cell competition.
      val cells = (32L * mult).toInt
      val probe = math.max(1, cells / 8)
      val noisyDir = java.nio.file.Files.createTempDirectory(s"noisy_$mult").toString
      embsNoisy(spark, nv, 0.3)
        .write.mode("overwrite").parquet(s"$noisyDir/embeddings.parquet")
      for ((fixture, fdir) <- Seq("clustered" -> dir, "noisy" -> noisyDir)) {
        var c0 = cal()
        var tries = 0
        while (c0 > 0.5 && tries < 18) { Thread.sleep(10000); c0 = cal(); tries += 1 }
        val offsets = Seq(nv / 4, nv / 2, 3 * nv / 4)
        val (rs, wall) = timed(offsets.map(qlo =>
          graft.operators.VectorOps.recallAt(spark, fdir, probe, cells, qlo)))
        val (r1, r3, scanned) = (rs.map(_._1).sum / rs.size,
          rs.map(_._2).sum / rs.size, rs.map(_._3).sum / rs.size)
        recallRows += f"| $fixture | $nv%,d | $cells | $probe | $r1%.2f | $r3%.2f | $scanned%.3f | $wall%.1f | $c0%.2f |"
      }
      println(s"scale ${mult}x done: " + results.takeRight(11).mkString(", "))
    }

    def exp(a: Cell, b: Cell): Double =
      math.log(b.count.toDouble / a.count) / math.log(b.scale.toDouble / a.scale)
    def wexp(a: Cell, b: Cell): Double =
      math.log(b.wall / a.wall) / math.log(b.scale.toDouble / a.scale)

    val ops = results.map(_.op).distinct
    val lines = ops.map { op =>
      val Seq(a, b) = results.filter(_.op == op).toSeq
      f"| $op | ${a.scale}%,d | ${a.count}%,d | ${a.wall}%.1f | ${a.cal}%.2f | ${b.scale}%,d | ${b.count}%,d | ${b.wall}%.1f | ${b.cal}%.2f | ${exp(a, b)}%.2f | ${wexp(a, b)}%.2f |"
    }
    // table rows are spliced AFTER stripMargin (their leading '|' is
    // markdown, not a margin — stripMargin would eat it)
    val md0 =
      s"""# SCALING — measured 10× witness for the dedup/ANN family
         |
         |Clustered synthetic corpora (every row has near-dups — the
         |adversarial shape for candidate generation), two scales a
         |decade apart, generated and measured by
         |`graft.tools.ScalingWitness` on local[32]. `count exp` /
         |`wall exp` are the measured growth exponents
         |log(big/small)/log(10): ~1 = linear (the 100 TB design
         |claim), ~2 = quadratic (the failure mode the band/bucket
         |designs exist to avoid).
         |
         || stage | N | candidates | wall s | cal | 10N | candidates | wall s | cal | count exp | wall exp |
         ||---|---|---|---|---|---|---|---|---|---|---|
         |TABLE_ROWS_PLACEHOLDER
         |
         |## ANN recall at scale (q80's production point, K ∝ N dial)
         |
         |Recall@1/@3 vs the brute-force truth, with cells ∝ N and
         |probe ∝ cells so the scanned FRACTION stays ~probe/cells =
         |1/8 as the collection grows a decade — the claim behind the
         |q80 floor (ScaleSpec asserts ≥ 0.9 at both fixture dial
         |points; this measures it at witness scale). Queries are
         |three 20-vector batches of MID-corpus ids, averaged — NOT
         |vec_id < 20: with cells ≥ 20 those are the sampled centroids
         |themselves, whose own cell is always probed first, and the
         |dial saturates at 1.00 regardless of the data (the r13
         |artifact's flaw, now fixed). The `noisy` fixture overlays
         |per-dim noise 0.3 (RecallFixtureLab dial) so the true
         |neighbor has real cross-cell competition; `clustered` is the
         |legacy near-noiseless shape.
         |
         || fixture | vectors | cells | probe | recall@1 | recall@3 | scanned | wall s | cal |
         ||---|---|---|---|---|---|---|---|---|
         |RECALL_ROWS_PLACEHOLDER
         |
         |Notes:
         |- q22/q51 count the CANDIDATE stage (bands → bucket-local
         |  self-join) — the stage that would go quadratic without
         |  banding; exact verification downstream is candidate-sized.
         |- q22 appears twice: the fixed production setting (K=8,
         |  4 bands × 2 rows — the oracle-pinned q21/q22 surface),
         |  and `q22_minhash_scaled`, the deployment dial where rows
         |  per band grow with log₂ n (2 rows at 1×, 3 at 10×, the
         |  signature widening to keep 4 bands) so per-band
         |  false-collision probability s₀^r shrinks ~1/n and the
         |  bucket join's key populations stay bounded as the corpus
         |  grows — the q51 band-width path applied to MinHash.
         |- q51 appears twice: at the FIXED production band width
         |  (16-bit bands, 65,536 buckets) birthday cross-collisions
         |  grow ~n²/buckets, so its exponent drifts above 1 once n
         |  outgrows the bucket space — a real measured scale property;
         |  `q51_srp_buckets_scaled` applies the scale path (band width
         |  grows with log₂ n: 24-bit bands at 10×, buckets ∝ n) and
         |  the exponent returns to ~1.
         |- q137 counts the containment CANDIDATE stage (bottom-k=8
         |  smallest shingles probing the full shingle index, df >
         |  ContainMaxDf shingles dropped from the probe set). The
         |  `_boilerplate` row prefixes EVERY doc with the same four
         |  tokens — shingles that sort before all informative ones
         |  and sit in every doc, so without the stoplist they would
         |  fill all k probe slots and the probe join would square on
         |  those keys; the stoplist keeps both rows' candidate counts
         |  and exponents at the clean corpus's ~linear values.
         |- q105 is the whole incremental-ingest query (stored-band
         |  probe + exact verify + decisions) at each corpus size; its
         |  delta is the top doc_id decile, so delta and stored index
         |  both scale with N.
         |- q109 follows the SemDeDup recipe of K ∝ N (64 → 640
         |  cells): within-cell pair scope stays ~linear because the
         |  cell population is held constant; at FIXED K the within-cell
         |  pair count is quadratic by design — the exponent here
         |  witnesses the production configuration, not a fixed-K one.
         |- q109's WALL exponent is the flat Lloyd fit at K ∝ N:
         |  assignment work is N·K per round, so the fit itself is
         |  superlinear even though the pair scope (the dedup stage's
         |  real cost driver) measures ~1. `q109_semdedup_sampled` is
         |  the MEASURED production path (the r12 ask): Lloyd trains
         |  on a fixed-size sample (the base corpus size at both
         |  scales) and the frozen centroids assign the full corpus in
         |  ONE pass — the iterative N·K·R cost drops to sample·K·R
         |  plus a single N·K broadcast-assign scan. At K ∝ N that
         |  scan's FLOP count still grows N·K — which is what
         |  `q109_semdedup_srp_assign` (the r12 ask) dials out: the
         |  frozen centroids hash into SRP band buckets and each doc
         |  scores only bucket-sharing centroids, so per-doc work is
         |  96 signature dots + ~K·bands/2^rows candidate cosines
         |  (96+3 at K=64, 96+30 at K=640 with 8-bit bands) instead of
         |  K — ~constant as K ∝ N grows; the band-width dial is
         |  rows ≈ log₂(K·bands/C) for a candidate budget C, and docs
         |  colliding with no centroid (P ≈ e^-C, negligible) fall
         |  back to the exact full-K scan. KmeansSpec pins assignment
         |  parity against the flat fit on the clustered fixture shape.
         |- The `corpus_ingest_*` / `corpus_retraction` rows are the
         |  STEADY-STATE streaming regime (fixed work against a 1× vs
         |  10× stored index — the axis the q105 row, whose delta
         |  scales WITH the corpus, cannot see). Each cell ingests the
         |  same fixed batch through the real streaming entry
         |  (StreamingPipeline.ingestCorpusBatch) into a fresh copy of
         |  a store built by the same entry; store files are capped at
         |  20k rows so file granularity is scale-independent (a
         |  deployment's fixed target file size). `fixed_delta` is the
         |  re-crawl shape (matches in the stored top decile): the
         |  candidate shingle fetch footer-prunes to recent files and
         |  the wall's only index-sized component is one parallel
         |  columnar scan of the thin BAND table (4 rows/doc) under a
         |  broadcast-hash probe — never shuffled, never sorted.
         |  `delta_spread` is the pruning worst case (matches uniform
         |  over the store, every id-ranged file holds a candidate):
         |  its wall adds one parallel scan of the fat shingle
         |  artifact — the honest floor for adversarially-spread
         |  probes; a deployment amortizes it by batching (delta ∝
         |  corpus keeps scan-cost-per-doc constant — the q105 row's
         |  regime) or hosts the band/shingle index in a key-value
         |  store. `corpus_retraction` replays 5 late smaller-id
         |  near-dups of accepted docs: the correction path's reads
         |  (ingest log, corpus docs) are footer-pruned point lookups
         |  by the candidate ids and its deletes rewrite only the
         |  id-matching files — O(retracted set · file size), never an
         |  O(corpus) table rewrite.
         |- Walls include each stage's one-time artifact builds
         |  (tokenize, minhash chains, Lloyd fit) — the honest
         |  end-to-end cost at that scale on this host; a contended
         |  host inflates walls, not counts. Each cell records the
         |  calibration spin (`cal`, ~0.3-0.4 s clean at 32 threads)
         |  that opened its bounded wait-for-clean-window; a wall is
         |  only trustworthy when both cells' cals sit near the
         |  floor. Walls are min-of-N (the bench's timeit rule; N=4
         |  at 1×, 2 at 10×): a plan's FIRST execution at scale pays
         |  JIT + heap-growth costs the steady state never repays —
         |  measured 58-75 s first run vs 7 s warm on the q137
         |  boilerplate probe build (tools.ContainSkewLab) — and this
         |  host's ambient bursts are invisible to the ALU spin, so
         |  one burst-owned run must not own a cell.
         |- Top scale = 500k docs / 200k vectors — 100× the sf0.1
         |  bench corpus documents table.
         |""".stripMargin
    val md = md0.replace("TABLE_ROWS_PLACEHOLDER", lines.mkString("\n"))
      .replace("RECALL_ROWS_PLACEHOLDER", recallRows.mkString("\n"))
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALING.md"),
      md.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(md)
    spark.stop()
  }
}
