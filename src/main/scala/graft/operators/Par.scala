package graft.operators

import scala.util.control.NonFatal

/** Run independent Spark actions concurrently — optimization-guide
  * §2.6 ("overlap independent jobs"): Spark's scheduler happily runs
  * several jobs at once inside one application, and actions are only
  * sequential because driver code calls them sequentially. A persisted
  * index is several relation writes with NO data dependency between
  * them; issuing them back-to-back leaves most executor slots idle
  * through each small job's scheduling + commit tail, while issuing
  * them together lets the next job's tasks back-fill the slots the
  * previous job's tail frees. At gate scale this collapses the
  * fixed per-job overhead to ~max instead of sum; at 100 TB scale the
  * same overlap fills the cluster through every write's straggler tail.
  *
  * Threads inherit the caller's job group / description (SparkContext
  * local properties are an InheritableThreadLocal), so a bench timeout
  * or `SparkContext.cancelJobGroup` still reaches every branch's jobs,
  * and a tracer that attributes jobs to spans by job group sees them
  * all.
  * Each call also tags its branches' jobs with one fresh job tag: the
  * first failure cancels the siblings' running jobs through that tag
  * (not through a job group, which would displace the caller's).
  *
  * All branches are joined before a non-fatal failure rethrows — an
  * index write must not commit its manifest while a sibling relation
  * job is still in flight — so the commit-marker discipline (manifest
  * written last, only on full success) is preserved exactly. A
  * `VirtualMachineError` rethrows at once: the JVM is in no state to
  * wait on the rest.
  */
object Par {

  /** Run every thunk concurrently; on the first failure cancel the
    * siblings' jobs, and rethrow it once all have settled (at once if
    * it is a `VirtualMachineError`). Degenerates to inline execution
    * for 0/1 thunks. */
  def jobs(thunks: (() => Unit)*): Unit = {
    if (thunks.lengthCompare(1) <= 0) { thunks.foreach(_.apply()); return }
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).map(_.sparkContext)
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val firstErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val settled = new java.util.concurrent.LinkedBlockingQueue[Option[Throwable]]()
    thunks.zipWithIndex.foreach { case (f, i) =>
      val t = new Thread(() => {
        var outcome: Option[Throwable] = None
        // the outcome is always enqueued (`offer` on an unbounded queue
        // cannot block or see an interrupt), whatever the thunk or the
        // cancel leaves behind: a lost outcome would hang the caller
        try { sc.foreach(_.addJobTag(tag)); f() }
        catch {
          case e: Throwable =>
            outcome = Some(e)
            if (firstErr.compareAndSet(null, e))
              try sc.foreach(_.cancelJobsWithTag(tag, "a sibling Par.jobs branch failed"))
              catch { case NonFatal(_) => () } // e.g. a stopped context: no job is left to cancel
        } finally settled.offer(outcome)
      }, s"graft-par-$i")
      t.setDaemon(true)
      t.start()
    }
    for (_ <- thunks.indices) settled.take() match {
      case Some(e: VirtualMachineError) => throw e
      case _ => ()
    }
    val e = firstErr.get()
    if (e != null) throw e
  }
}
