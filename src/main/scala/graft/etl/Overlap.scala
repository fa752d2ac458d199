package graft.etl

/** Run independent driver-side steps at the same time — e.g. keyed writes
  * into different tables, none of which reads what another writes. That
  * includes lazy reads: a frame a step consumes must not be derived from
  * a table another step rewrites (materialize it before the call). Each
  * step gets a FRESH driver thread: Spark's local properties (job group,
  * job description, scheduler pool) and the active session are
  * inheritable thread-locals copied at thread creation, so every job a
  * step launches carries the caller's job group ([[Progress]] still
  * tallies it, and a cancel of the group reaches it). A pooled thread
  * would carry whatever properties it was created under instead.
  *
  * Spark schedules the concurrent jobs side by side, so one step's
  * stage-dispatch and commit gaps fill with another step's tasks — the
  * same overlap the bench's shared-frame warmup uses for its build
  * chains.
  *
  * Every step runs to completion before the call returns. A step's
  * failure is rethrown only after ALL steps have finished (the first
  * failing step in argument order; the others' failures ride along as
  * suppressed exceptions), so no write is still in flight when the
  * caller sees the error.
  */
object Overlap {

  def apply[A, B](a: => A, b: => B): (A, B) = {
    val r = all(Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def apply[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = all(Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }

  private def all(steps: Seq[() => Any]): IndexedSeq[Any] = {
    val results = new Array[Any](steps.size)
    val errors = new Array[Throwable](steps.size)
    val threads = steps.zipWithIndex.map { case (step, i) =>
      // catch everything: the failure is handed to the caller's thread,
      // never dropped
      val t = new Thread(() =>
        try results(i) = step() catch { case e: Throwable => errors(i) = e },
        s"graft-overlap-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch {
      case e: InterruptedException =>
        threads.foreach(_.interrupt())
        threads.foreach(_.join())
        throw e
    }
    // join() orders every step's writes before these reads
    errors.find(_ != null).foreach { first =>
      errors.filter(e => e != null && (e ne first)).foreach(first.addSuppressed)
      throw first
    }
    results.toIndexedSeq
  }
}
