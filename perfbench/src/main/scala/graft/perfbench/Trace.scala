package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-span Spark work counters for the traced run.
  *
  * `span(name)(body)` names the span in the SparkContext local property
  * `perfbench.span` for the duration of `body`; local properties are
  * inheritable, so jobs submitted from threads spawned inside the body
  * carry the same name. The listener attributes every job to the span
  * its submitting thread named, and every task to its stage's job.
  * Everything is kept in memory and read once, after `drain`. */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val lock = new Object
  private val totals = mutable.LinkedHashMap.empty[String, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val drained = mutable.HashSet.empty[Int]
  private var globalJobs = 0L

  sc.addSparkListener(this)

  private def counters(span: String): Counters = totals.getOrElseUpdate(span, new Counters)

  def span[T](name: String)(body: => T): T = {
    val previous = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, name)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      sc.setLocalProperty(Property, previous)
      lock.synchronized {
        val c = counters(name)
        c.nanos += t1 - t0
        c.calls += 1
        windows += ((name, w0, w1))
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
      .getOrElse(Unattributed)
    e.stageIds.foreach(stageSpan(_) = name)
    if (name != Drain) {
      counters(name).jobs += 1
      globalJobs += 1
      jobStart(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId) match {
      case Some(t0) => jobIntervals += ((t0, e.time))
      case None => drained += e.jobId
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val name = stageSpan.getOrElse(e.stageId, Unattributed)
    val m = e.taskMetrics
    if (name != Drain) {
      val c = counters(name)
      c.tasks += 1
      if (m != null) {
        c.cpuNanos += m.executorCpuTime
        c.runMillis += m.executorRunTime
        c.gcMillis += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRows += m.outputMetrics.recordsWritten
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Block until the listener has received every event posted before
    * this call: Spark delivers listener events asynchronously, in
    * order, so a marker job's end event arrives after all of them. */
  def drain(): Unit = {
    val previous = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, Drain)
    val id = try {
      val f = sc.parallelize(Seq(1), 1).countAsync()
      f.get()
      f.jobIds.head
    } finally sc.setLocalProperty(Property, previous)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!lock.synchronized(drained(id)) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Counters of every span seen so far; `idleNanos` is the part of each
    * span's windows during which no Spark job was running. */
  def snapshot(): Map[String, Counters] = lock.synchronized {
    val merged = mergeIntervals(jobIntervals.toSeq)
    val idle = windows.groupMapReduce(_._1) { case (_, w0, w1) =>
      ((w1 - w0) - overlap(merged, w0, w1)) * 1000000L
    }(_ + _)
    totals.map { case (k, v) =>
      val c = v.copy()
      c.idleNanos = math.max(0L, idle.getOrElse(k, 0L))
      k -> c
    }.toMap
  }

  def jobsSeen: Long = lock.synchronized(globalJobs)
}

object Trace {
  val Property = "perfbench.span"
  val Unattributed = "unattributed"
  private val Drain = "perfbench.drain"

  final class Counters {
    var calls, jobs, tasks, cpuNanos, runMillis, gcMillis = 0L
    var shuffleWriteBytes, spillBytes, outputBytes, outputRows, inputRows = 0L
    var nanos, idleNanos = 0L

    def copy(): Counters = {
      val c = new Counters
      c.calls = calls; c.jobs = jobs; c.tasks = tasks; c.cpuNanos = cpuNanos
      c.runMillis = runMillis; c.gcMillis = gcMillis
      c.shuffleWriteBytes = shuffleWriteBytes; c.spillBytes = spillBytes
      c.outputBytes = outputBytes; c.outputRows = outputRows; c.inputRows = inputRows
      c.nanos = nanos; c.idleNanos = idleNanos
      c
    }
  }

  private def mergeIntervals(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  private def overlap(merged: Seq[(Long, Long)], w0: Long, w1: Long): Long =
    merged.iterator.map { case (s, e) => math.max(0L, math.min(e, w1) - math.max(s, w0)) }.sum
}
