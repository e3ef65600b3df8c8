package graft.perfbench

import graft.Pipeline
import graft.sources.LayerStore
import org.apache.spark.sql.SparkSession

/** The pipeline benchmark.
  *
  *   perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * Prints one summary line per metric (name, value, unit, sample
  * count), then, as the last line, the JSON result. See
  * perfbench/README.md for the workloads and metrics. */
object Main {

  /** Seeded inputs written by run.py before the JVM starts: their
    * directory, size and what writing them cost. */
  final case class Input(dir: String, bytes: Long, cost: Cost)

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, fixtures: String, prepared: String, input: Option[Input])

  private def options(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def parse(args: Array[String]): Opts = {
    val kv = options(args)
    val input = kv.get("input").map { dir =>
      val cpu = kv("input-cpu-s").toDouble
      Input(dir, kv("input-bytes").toLong, Cost(kv("input-wall-s").toDouble, cpu, cpu))
    }
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv("fixtures"), kv("prepared"), input)
  }

  private val started = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  def bytesUnder(dir: java.io.File, keep: String => Boolean): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) (if (keep(dir.getPath)) dir.length() else 0L)
    else Option(dir.listFiles()).map(_.map(bytesUnder(_, keep)).sum).getOrElse(0L)

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Run independent tasks concurrently (one thread per core); results
    * in order, the first failure rethrown. */
  def parallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, Runtime.getRuntime.availableProcessors())))
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      fs.map { f =>
        try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Wall and CPU seconds of a piece of work. `jvmCpu` is the whole
    * process's CPU time; `cpu` leaves out the JVM's own threads (JIT
    * compilers, garbage collector, VM thread), whose share of a cold run
    * is large and varies from run to run. Unlike wall time neither grows
    * when the host takes the CPUs away (steal). */
  final case class Cost(wall: Double, cpu: Double, jvmCpu: Double) {
    def +(o: Cost): Cost = Cost(wall + o.wall, cpu + o.cpu, jvmCpu + o.jvmCpu)
    override def toString: String = f"wall ${wall}%.2fs cpu ${cpu}%.2fs jvm-cpu ${jvmCpu}%.2fs"
  }

  def jvmCpuSeconds(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private val jvmThreadPrefixes = Seq("C1 CompilerThre", "C2 CompilerThre", "GC Thread",
    "G1 ", "VM Thread", "VM Periodic", "Sweeper")

  /** CPU seconds of the JVM's own threads, from /proc/self/task (clock
    * ticks of 1/100 s). run.py pins the JIT and GC thread counts, so
    * these threads live as long as the JVM and none of their time is
    * lost when a thread ends. */
  def jvmThreadCpuSeconds(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!jvmThreadPrefixes.exists(comm.startsWith)) 0.0
        else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / 100.0 // utime + stime
        }
      } catch { case _: java.io.IOException => 0.0 } // the thread ended meanwhile
    }.sum
  }

  /** (application CPU, process CPU) so far, in seconds. */
  def cpuNow(): (Double, Double) = {
    val jvm = jvmCpuSeconds()
    (jvm - jvmThreadCpuSeconds(), jvm)
  }

  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean

  /** Spark threads that work for a query besides the caller: task
    * threads, and the pools that build broadcast sides and run scalar
    * and pruning subqueries. */
  private val queryThreadPrefixes = Seq("Executor task launch worker", "broadcast-exchange",
    "subquery", "dynamicpruning")

  /** CPU seconds of the calling thread plus the query's Spark threads
    * (ns resolution): the work of one query, without the JVM's and
    * Spark's background threads (cleaner, listener bus, heartbeats). */
  def queryCpuSeconds(): Double = {
    val self = Thread.currentThread().getId
    threadBean.getThreadInfo(threadBean.getAllThreadIds).iterator
      .filter(t => t != null &&
        (t.getThreadId == self || queryThreadPrefixes.exists(t.getThreadName.startsWith)))
      .map(t => threadBean.getThreadCpuTime(t.getThreadId)).filter(_ > 0).sum / 1e9
  }

  def measure[T](body: => T): (T, Cost) = {
    val w0 = System.nanoTime()
    val (c0, j0) = cpuNow()
    val r = body
    val (c1, j1) = cpuNow()
    (r, Cost((System.nanoTime() - w0) / 1e9, c1 - c0, j1 - j0))
  }

  /** Like `measure`, with `cpu` from `queryCpuSeconds`. */
  def measureQuery[T](body: => T): (T, Cost) = {
    val (c0, j0) = (queryCpuSeconds(), jvmCpuSeconds())
    val w0 = System.nanoTime()
    val r = body
    val w1 = System.nanoTime()
    (r, Cost((w1 - w0) / 1e9, queryCpuSeconds() - c0, jvmCpuSeconds() - j0))
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Build step: the silver layer gold_refresh starts from, written by
    * Pipeline.runBronze + runSilver over the fixtures into `out`. */
  def prepare(out: String, fixtures: String, work: String): Unit = {
    val spark = session(work)
    val tmp = new java.io.File(out + ".tmp")
    Workloads.deleteTree(tmp)
    val store = new LayerStore(spark, tmp.getAbsolutePath)
    val ok = Pipeline.runBronze(spark, store, fixtures).ok &&
      Pipeline.runSilver(spark, store, "perfbench-prepared").ok
    spark.stop()
    if (!ok || !tmp.renameTo(new java.io.File(out))) {
      System.err.println("[perfbench] preparing the silver layer failed")
      sys.exit(1)
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = options(args)
    if (kv.contains("prepare")) return prepare(kv("prepare"), kv("fixtures"), kv("work"))
    val opts = parse(args)
    val spark = session(opts.work)
    // set-up starts with the JVM: its start-up is part of the session cost
    val (appCpu, jvmCpu) = cpuNow()
    val sessionCost = Cost(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3, appCpu, jvmCpu)
    val selfTest = if (opts.trace) SelfTest.run(spark) else Nil
    val trace = if (opts.trace) Some(new Trace(spark.sparkContext)) else None
    val wl = Workloads.all.getOrElse(opts.workload,
      sys.error(s"unknown workload ${opts.workload}; known: ${Workloads.all.keys.mkString(", ")}"))
    log("session up")
    val run = wl.run(new Workloads.Ctx(spark, opts, sessionCost, trace))
    val out = run.copy(correct = run.correct && selfTest.isEmpty,
      attempted = run.attempted + (if (opts.trace) SelfTest.Checks else 0), failed = run.failed + selfTest.size,
      errors = run.errors ++ selfTest)
    log("workload done")
    spark.stop()
    log("session stopped")
    println(s"run workload=${opts.workload} seed=${opts.seed} trace=${if (opts.trace) 1 else 0} input=" +
      opts.input.fold(s"prepared silver layer ${opts.prepared}")(i => s"${i.dir} (${i.bytes} bytes)"))
    out.summary.foreach(println)
    println(out.json)
    if (!out.correct) System.err.println("[perfbench] output checks FAILED: " + out.errors.mkString("; "))
  }
}
