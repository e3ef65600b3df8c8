package graft.util

import org.apache.spark.sql.DataFrame

/** The one concurrency helper for independent builds inside a query
  * or layer (the q10 parallel-branch rule): eager jobs issued from the
  * constructing thread run back to back, so N independent artifact
  * builds serialize on the driver even with idle executors. */
object Par {

  /** Run every thunk on its own fresh daemon thread and return the
    * results in order. Fresh threads, not a reused pool: Spark's local
    * properties (job groups, scheduler pools, tracing spans) are
    * inheritable thread-locals copied when a thread is CREATED, so only
    * a thread started from the caller carries the caller's properties.
    * Every thunk runs to completion; the first failure (in thunk order)
    * is thrown with the others added to it as suppressed, so a
    * multi-branch breakage surfaces every diagnostic. */
  def all[T](thunks: Seq[() => T]): Seq[T] = {
    val out = new Array[Any](thunks.size)
    val errs = new Array[Throwable](thunks.size)
    val threads = thunks.zipWithIndex.map { case (thunk, i) =>
      val t = new Thread(() =>
        try out(i) = thunk()
        catch { case e: Throwable => errs(i) = e }, s"par-$i")
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    errs.filter(_ != null) match {
      case Array() => out.toSeq.map(_.asInstanceOf[T])
      case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
    }
  }

  /** localCheckpoint every frame concurrently and return the
    * checkpointed frames in order. */
  def localCheckpointAll(frames: Seq[DataFrame]): Seq[DataFrame] =
    all(frames.map(f => () => f.localCheckpoint()))
}
