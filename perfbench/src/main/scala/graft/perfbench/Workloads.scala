package graft.perfbench

import java.io.File
import graft.{Bench, Pipeline}
import graft.operators.{Backtest, DqChecks, Forecasting, GoldMarts}
import graft.sources.LayerStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** The benchmark's workloads. Each run: set up (the session, plus the
  * seeded inputs run.py wrote or a copy of the prepared silver layer),
  * one timed refresh pass into a LayerStore, then a timed closed-loop
  * read phase (one client) over the store the pass wrote. Output checks
  * run between and after the timed phases, untimed. */
object Workloads {

  final class Ctx(val spark: SparkSession, val opts: Main.Opts, val session: Main.Cost,
      val trace: Option[Trace]) {
    def span[T](name: String)(body: => T): T = trace.fold(body)(_.span(name)(body))
    def dir(name: String): String = new File(opts.work, name).getAbsolutePath
  }

  final case class Metric(name: String, value: Double, unit: String, samples: Int)

  final case class Out(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric], errors: Seq[String]) {
    def summary: Seq[String] =
      metrics.map(m => f"metric ${m.name}%-40s ${m.value}%14.6f ${m.unit}%-8s samples=${m.samples}") :+
        s"check correct=$correct attempted=$attempted failed=$failed" +
        (if (errors.isEmpty) "" else errors.mkString(" errors=[", "; ", "]"))

    def json: String = {
      def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
    }
  }

  /** The run's operations (layer calls, queries) and output checks,
    * with the failures among them; ops and checks may run on several
    * threads at once. */
  final class Ledger {
    private var n = 0L
    private val failures = mutable.ArrayBuffer.empty[String]
    private def count(): Unit = synchronized(n += 1)
    private def fail(msg: String): Unit = synchronized(failures += msg)
    def attempted: Long = synchronized(n)
    def errors: Seq[String] = synchronized(failures.toSeq)
    def op[T](what: String)(body: => T): Option[T] = {
      count()
      try Some(body)
      catch { case e: Throwable => fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
    }
    def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
      count()
      if (!ok) fail(s"$what: $detail")
    }
  }

  trait Workload { def run(ctx: Ctx): Out }

  val all: Map[String, Workload] = Map(
    "silver_refresh" -> SilverRefresh,
    "gold_refresh" -> GoldRefresh)

  // ---- shared steps ---------------------------------------------------

  /** Fewest queries per read phase. */
  val QueryCount = 50

  /** What one run measured; everything else in a run is untimed. */
  final case class Measured(setup: Main.Cost, pass: Main.Cost,
      reads: Seq[(String, Main.Cost)], storeRatio: Double)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(f => copyTree(f, new File(to, f.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  /** An empty LayerStore, or one holding a copy of the store at `from`. */
  def freshStore(ctx: Ctx, name: String, from: Option[String] = None): (LayerStore, String) = {
    val root = ctx.dir(name)
    deleteTree(new File(root))
    from.foreach(f => copyTree(new File(f), new File(root)))
    (new LayerStore(ctx.spark, root), root)
  }

  def storeBytes(root: String): Long = Main.bytesUnder(new File(root), _ => true)

  /** Run `persist` scoped to the call, like the pipeline's gold steps. */
  def withMaterializer[T](body: (DataFrame => DataFrame) => T): T = {
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); persisted += p; p }
    try body(mat) finally persisted.foreach(_.unpersist())
  }

  /** Order-independent content hash with doubles rounded to 6 places
    * (reductions whose fold order may vary between runs) and the
    * run-scoped `run_id` column dropped. */
  def stableHash(df: DataFrame): String = {
    val cols = df.schema.fields.filterNot(_.name == "run_id").map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6).as(f.name)
        case _ => col(f.name)
      }
    }
    Bench.frameHash(df.select(cols.toIndexedSeq: _*))
  }

  /** The pinned row count of a table; the read mix pages below it. */
  def pinnedRows(wl: String, layer: String)(table: String): Long =
    Pins.expected(s"$wl/$layer.$table.rows").toLong

  /** Observed values checked against the pins of workload `wl`. */
  def checkPins(ledger: Ledger, wl: String, seen: Seq[(String, String)]): Unit =
    seen.foreach { case (k, v) =>
      Pins.expected.get(s"$wl/$k") match {
        case Some(exp) => ledger.check(s"pin $k", exp == v, s"expected $exp, got $v")
        case None => ledger.check(s"pin $k", ok = false, s"no pin (observed $v)")
      }
    }

  /** Row counts (and hashes where named) of the given tables, checked
    * against the pins of workload `wl`. */
  def checkTables(ledger: Ledger, wl: String, store: LayerStore,
      tables: Seq[(String, String)], hashed: Set[String]): Unit = {
    val (withHash, plain) = tables.partition { case (l, t) => hashed(s"$l.$t") }
    // all plain counts in one action; it and the hashes run concurrently
    val countAll = () => plain.map { case (l, t) =>
      store.table(l, t).agg(count(lit(1)).as("n")).select(lit(s"$l.$t.rows").as("k"), col("n"))
    }.reduce(_ unionByName _).collect().map(r => r.getString(0) -> r.getLong(1).toString).toSeq
    val hashEach = withHash.map { case (l, t) => () =>
      val h = Bench.frameHash(store.table(l, t)) // "<hash>:<rows>"
      Seq(s"$l.$t.rows" -> h.split(':')(1), s"$l.$t.hash" -> h)
    }
    val seen = Main.parallel((if (plain.isEmpty) Nil else Seq(countAll)) ++ hashEach).flatten
    Main.log(s"checked ${tables.size} tables")
    checkPins(ledger, wl, seen)
  }

  /** Closed-loop read phase, one client. Each distinct query of the
    * seeded mix first runs once, untimed: its result is compared with the
    * query's DataFrame twin (half the mix's samples would otherwise be
    * first runs, which cost several times a repeat). The untimed
    * `alongside` (the table checks) runs together with these first runs.
    * One more untimed round of the whole mix follows, on one thread per
    * core to keep it short: query CPU was still falling from the first
    * round to the second as the JIT caught up, and varied more between
    * runs. The timed part then runs whole rounds of the
    * `QueryCount`-query mix until `seconds` have passed since it began:
    * a partial round of warmer repeats would change which queries the
    * median is taken over. */
  def readPhase(ctx: Ctx, ledger: Ledger, store: LayerStore,
      mix: IndexedSeq[Queries.Query], alongside: () => Unit): Seq[(String, Main.Cost)] = {
    val distinct = mix.groupBy(_.sql).values.map(_.head).toSeq
    val twins = Main.parallel(distinct.map(q => () => ledger.op(s"query ${q.kind}") {
      (q.sql, Queries.canonical(store.adhocSql(q.sql).collect()),
        Queries.canonical(q.twin(store).collect()))
    }) :+ (() => { alongside(); None }))
    twins.flatten.foreach { case (sql, got, want) =>
      ledger.check(s"twin ${sql.take(60)}", want == got, s"sql ${got.size} rows vs api ${want.size} rows")
    }
    Main.log(s"checked ${distinct.size} distinct queries against their twins")
    Main.parallel(mix.map(q => () => ledger.op(s"query ${q.kind}")(store.adhocSql(q.sql).collect())))
    val costs = mutable.ArrayBuffer.empty[(String, Main.Cost)]
    val deadline = System.nanoTime() + (ctx.opts.seconds * 1e9).toLong
    do mix.foreach { q =>
      ledger.op(s"query ${q.kind}") {
        val (_, c) = Main.measureQuery(ctx.span(q.kind)(store.adhocSql(q.sql).collect()))
        costs += q.kind -> c
      }
    } while (System.nanoTime() < deadline)
    Main.log(s"read phase: ${costs.size} queries, ${costs.map(_._2).reduceOption(_ + _).getOrElse("none")}")
    costs.toSeq
  }

  /** The untraced run's pass cost for one (workload, seed), read back
    * by the traced run of the same seed to report the tracing overhead.
    * Nothing is checked against it: output checks use the pins. */
  object Records {
    private def file(ctx: Ctx) =
      new File(ctx.dir("records"), s"${ctx.opts.workload}-${ctx.opts.seed}.properties")

    def load(ctx: Ctx): Map[String, String] = {
      val f = file(ctx)
      val p = new java.util.Properties
      if (f.exists()) {
        val in = new java.io.FileInputStream(f)
        try p.load(in) finally in.close()
      }
      import scala.jdk.CollectionConverters._
      p.asScala.toMap
    }

    /** An untraced run records its pass cost; returns the record as it
      * was before this run. */
    def exchange(ctx: Ctx, pass: Main.Cost): Map[String, String] = {
      val before = load(ctx)
      if (!ctx.opts.trace) {
        val f = file(ctx)
        f.getParentFile.mkdirs()
        val p = new java.util.Properties
        p.setProperty("pass.wall_s", pass.wall.toString)
        p.setProperty("pass.cpu_s", pass.cpu.toString)
        val o = new java.io.FileOutputStream(f)
        try p.store(o, null) finally o.close()
      }
      before
    }
  }

  /** The run's metrics: end-to-end when untraced, per-layer when traced. */
  def finish(ctx: Ctx, ledger: Ledger, m: Measured, before: Map[String, String]): Out = {
    val n = m.reads.size
    val wallMs = m.reads.map(_._2.wall * 1000)
    val metrics =
      if (ctx.trace.isEmpty) Seq(
        Metric("setup_s", m.setup.jvmCpu, "s", 1),
        Metric("pipeline_cpu_s", m.pass.cpu, "s", 1),
        Metric("query_cpu_ms", Main.median(m.reads.map(_._2.cpu * 1000)), "ms", n),
        Metric("store_bytes_per_input_byte", m.storeRatio, "ratio", 1))
      else {
        val t = ctx.trace.get
        t.drain()
        val snap = t.snapshot()
        val cores = Runtime.getRuntime.availableProcessors()
        val layer = Spans.layer.flatMap { name =>
          val c = snap.getOrElse(name, new Trace.Counters)
          val s = c.nanos / 1e9
          Seq("s" -> (s, "s"), "jobs" -> (c.jobs.toDouble, "count"),
            "tasks" -> (c.tasks.toDouble, "count"), "cpu_s" -> (c.cpuNanos / 1e9, "s"),
            "run_s" -> (c.runMillis / 1e3, "s"), "gc_s" -> (c.gcMillis / 1e3, "s"),
            "shuffle_write_mb" -> (c.shuffleWriteBytes / 1048576.0, "MB"),
            "spill_mb" -> (c.spillBytes / 1048576.0, "MB"),
            "output_mb" -> (c.outputBytes / 1048576.0, "MB"),
            "output_rows" -> (c.outputRows.toDouble, "count"),
            "driver_s" -> (c.idleNanos / 1e9, "s"),
            "slot_util" -> (if (s > 0) c.runMillis / 1e3 / (cores * s) else 0.0, "ratio"))
            .map { case (k, (v, u)) => Metric(s"$name.$k", v, u, c.calls.toInt) }
        }
        val reads = Spans.read.flatMap { name =>
          val c = snap.getOrElse(name, new Trace.Counters)
          val ms = m.reads.collect { case (k, v) if k == name => v.wall * 1000 }
          Seq(Metric(s"$name.ms_p50", Main.median(ms), "ms", ms.size),
            Metric(s"$name.jobs", c.jobs.toDouble, "count", ms.size),
            Metric(s"$name.tasks", c.tasks.toDouble, "count", ms.size),
            Metric(s"$name.input_rows", c.inputRows.toDouble, "count", ms.size),
            Metric(s"$name.cpu_ms", c.cpuNanos / 1e6, "ms", ms.size))
        }
        // every job of the run is attributed to exactly one span
        val attributed = snap.values.map(_.jobs).sum
        ledger.check("trace job totals", attributed == t.jobsSeen,
          s"spans hold $attributed jobs, listener saw ${t.jobsSeen}")
        def overhead(key: String, traced: Double) = before.get(key).map(traced - _.toDouble).getOrElse {
          Main.log(s"no untraced run of this workload and seed recorded: trace overhead reads 0")
          0.0
        }
        layer ++ reads ++ Seq(
          Metric("pipeline_s", m.pass.wall, "s", 1),
          Metric("setup_wall_s", m.setup.wall, "s", 1),
          Metric("query_p50_ms", Main.median(wallMs), "ms", n),
          Metric("query_p90_ms", Main.quantile(wallMs, 0.90), "ms", n),
          Metric("queries_per_s", n / m.reads.map(_._2.wall).sum, "1/s", n),
          Metric("peak_rss_mb", Main.peakRssMb(), "MB", 1),
          Metric("trace.overhead_s", overhead("pass.wall_s", m.pass.wall), "s", 1),
          Metric("trace.overhead_cpu_s", overhead("pass.cpu_s", m.pass.cpu), "s", 1))
      }
    Out(ledger.errors.isEmpty, math.max(1L, ledger.attempted), ledger.errors.size.toLong,
      metrics, ledger.errors.toSeq)
  }

  // ---- silver_refresh: bronze -> silver, then the Query Runner mix ----

  object SilverRefresh extends Workload {
    val silverTables = Seq("suppliers", "warehouses", "retail_stores", "products", "inventory",
      "supply_orders", "quality_issues_log", "orders", "lineitem", "part", "customer",
      "supplier", "nation", "region")

    def run(ctx: Ctx): Out = {
      val ledger = new Ledger
      val input = ctx.opts.input.getOrElse(sys.error("silver_refresh needs --input"))
      val (store, root) = freshStore(ctx, "store")
      val runId = s"perfbench-${ctx.opts.seed}"
      val (_, pass) = Main.measure {
        ledger.op("bronze")(ctx.span("bronze")(Pipeline.runBronze(ctx.spark, store, input.dir)))
          .foreach(r => ledger.check("bronze ok", r.ok))
        ledger.op("silver")(ctx.span("silver")(Pipeline.runSilver(ctx.spark, store, runId)))
          .foreach(r => ledger.check("silver ok", r.ok))
      }
      Main.log(s"pass $pass")
      val ratio = storeBytes(root).toDouble / input.bytes
      val mix = Queries.silverMix(ctx.opts.seed, QueryCount, pinnedRows("silver_refresh", "silver"))
      val reads = readPhase(ctx, ledger, store, mix, () => checkTables(ledger, "silver_refresh", store,
        graft.Tables.names.map("bronze" -> _) ++ silverTables.map("silver" -> _),
        Set("silver.supply_orders", "silver.inventory", "silver.products")))
      finish(ctx, ledger, Measured(ctx.session + input.cost, pass, reads, ratio), Records.exchange(ctx, pass))
    }
  }

  // ---- gold_refresh: the gold builders over a written silver layer -----

  object GoldRefresh extends Workload {
    val model = "global_ar"
    /** Forecasts and backtest run at the region level only: the supplier
      * and product levels repeat the same builders over more entities
      * and would triple the pass (see README, "Sizing"). */
    val levels: Seq[String] = Seq("region")

    val goldTables = Seq("monthly_sales", "inventory_health", "supplier_monthly", "dashboard",
      "forecasts", "forecast_metrics", "model_selection")

    /** The body of Pipeline.runGold, copied call for call (runGold has no
      * level parameter, and one span per builder needs the calls apart):
      * the same public builders in the same order, one span each, with
      * forecasts and backtest at `levels`. A change to runGold's own
      * orchestration is therefore not measured here; a change inside a
      * builder is. */
    def pass(ctx: Ctx, ledger: Ledger, store: LayerStore, runId: String): Unit = {
      val resolve = Pipeline.goldResolver(store)
      val silver: String => DataFrame = store.table("silver", _)
      val granularity = Forecasting.defaultGranularity(model)
      val marts = Seq(
        "monthly_sales" -> ((mat: DataFrame => DataFrame) => GoldMarts.monthlySalesFrom(resolve, mat)),
        "inventory_health" -> ((_: DataFrame => DataFrame) => GoldMarts.inventoryHealthFrom(resolve)),
        "supplier_monthly" -> ((mat: DataFrame => DataFrame) => GoldMarts.supplierMonthlyFrom(resolve, mat)),
        "dashboard" -> ((_: DataFrame => DataFrame) => GoldMarts.dashboardFrom(resolve)))
      val counts = ledger.op("gold.marts")(ctx.span("gold.marts")(withMaterializer { mat =>
        marts.map { case (name, build) => name -> store.write("gold", name, build(mat)) }
      })).getOrElse(Nil)
      val nFc = ledger.op("gold.forecasts")(ctx.span("gold.forecasts")(withMaterializer { mat =>
        val fc = Forecasting.runOverLevels(silver, model, granularity, mat, atLevels = levels)
          .withColumn("run_id", lit(runId))
        store.overwriteRun("gold", "forecasts", fc, "run_id", runId)
      })).getOrElse(0L)
      val (nM, nS) = ledger.op("gold.backtest")(ctx.span("gold.backtest")(withMaterializer { mat =>
        val metrics = mat(Backtest.metricsOverLevels(silver, mat, atLevels = levels))
        (store.write("gold", "forecast_metrics", metrics),
          store.write("gold", "model_selection", Backtest.championOver(metrics)))
      })).getOrElse((0L, 0L))
      ledger.op("gold.dq")(ctx.span("gold.dq") {
        store.writeMetadata(counts.map { case (name, n) =>
          (name, s"gold mart $name", Seq("silver.orders", "silver.lineitem",
            "silver.part", "silver.customer", "silver.supplier"), n)
        } :+ ("forecasts", s"$model $granularity forecast horizon", Seq("silver.lineitem"), nFc)
          :+ ("forecast_metrics", "held-out backtest", Seq("silver.lineitem"), nM)
          :+ ("model_selection", "champion model per series", Seq("gold.forecast_metrics"), nS))
        val dq = DqChecks.checksOver(
          store.table("gold", "monthly_sales"), store.table("gold", "supplier_monthly"))
        store.write("audit", "dq_results", dq)
        dq.filter(!col("passed")).count()
      })
    }

    def run(ctx: Ctx): Out = {
      val ledger = new Ledger
      // set-up: a copy of the silver layer that runBronze + runSilver
      // wrote over the fixtures at build time (see README, "Sizing")
      val ((store, root), copy) = Main.measure(freshStore(ctx, "store", Some(ctx.opts.prepared)))
      Main.log(s"silver layer copied: $copy")
      val runId = s"perfbench-${ctx.opts.seed}"
      val silverBytes = storeBytes(root)
      val (_, passCost) = Main.measure(pass(ctx, ledger, store, runId))
      Main.log(s"pass $passCost")
      val inBytes = Main.bytesUnder(new File(ctx.opts.fixtures), _.endsWith(".parquet"))
      val ratio = (storeBytes(root) - silverBytes).toDouble / inBytes
      val mix = Queries.goldMix(ctx.opts.seed, QueryCount, pinnedRows("gold_refresh", "gold"))
      val reads = readPhase(ctx, ledger, store, mix, () => {
        checkTables(ledger, "gold_refresh", store, goldTables.map("gold" -> _),
          Set("gold.monthly_sales", "gold.inventory_health", "gold.supplier_monthly", "gold.dashboard"))
        checkPins(ledger, "gold_refresh", Seq("forecasts", "forecast_metrics", "model_selection")
          .map(t => s"gold.$t.stable" -> stableHash(store.table("gold", t))))
      })
      finish(ctx, ledger, Measured(ctx.session + copy, passCost, reads, ratio),
        Records.exchange(ctx, passCost))
    }
  }
}

/** Span names, in pipeline order. */
object Spans {
  val layer: Seq[String] = Seq("bronze", "silver", "gold.marts", "gold.forecasts",
    "gold.backtest", "gold.dq")
  val read: Seq[String] = Seq("read.sample", "read.page", "read.kpi")
}
