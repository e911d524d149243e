package graft.operators

import graft.SparkTestBase
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Failure handling of [[Par.jobs]]: the first failure cancels sibling
  * Spark jobs through the call's job tag while the caller's job group
  * keeps covering every branch, and a `VirtualMachineError` rethrows
  * without waiting for the other branches. */
class ParSpec extends SparkTestBase {

  test("a failing thunk cancels a long sibling Spark job and returns promptly") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p => groups.add(String.valueOf(p.getProperty("spark.jobGroup.id"))))
    }
    sc.addSparkListener(listener)
    val siblingErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val started = new java.util.concurrent.CountDownLatch(1)
    sc.setJobGroup("par-spec", "Par.jobs cancellation")
    val t0 = System.nanoTime()
    val e = try intercept[IllegalStateException] {
      Par.jobs(
        () => try {
          started.countDown()
          // four tasks that would run for a minute unless killed
          sc.parallelize(0 until 4, 4).map { i =>
            val tc = TaskContext.get()
            val end = System.nanoTime() + 60L * 1000000000L
            while (System.nanoTime() < end && !tc.isInterrupted()) Thread.sleep(20)
            i
          }.count()
        } catch { case t: Throwable => siblingErr.set(t); throw t },
        () => { started.await(); Thread.sleep(2000); throw new IllegalStateException("boom") })
    } finally sc.clearJobGroup()
    val secs = (System.nanoTime() - t0) / 1e9
    val deadline = System.nanoTime() + 10L * 1000000000L // listener events arrive asynchronously
    while (!groups.contains("par-spec") && System.nanoTime() < deadline) Thread.sleep(20)
    sc.removeSparkListener(listener)
    assert(e.getMessage == "boom")
    assert(secs < 30, s"Par.jobs took $secs s: the sibling job was not cancelled")
    assert(siblingErr.get() != null && siblingErr.get().getMessage.contains("cancel"),
      s"sibling job ended with ${siblingErr.get()}")
    assert(groups.contains("par-spec"), s"job groups seen: $groups")
  }

  test("a branch that leaves its thread interrupted still settles") {
    // a blocking enqueue refuses an interrupted thread; the outcome must
    // reach the caller anyway, or Par.jobs waits forever
    val done = new java.util.concurrent.CompletableFuture[Throwable]()
    val caller = new Thread(() =>
      try {
        Par.jobs(
          () => Thread.currentThread().interrupt(),
          () => { Thread.currentThread().interrupt(); throw new IllegalStateException("boom") })
        done.complete(null)
      } catch { case t: Throwable => done.complete(t) })
    caller.setDaemon(true)
    caller.start()
    val e = done.get(30, java.util.concurrent.TimeUnit.SECONDS)
    assert(e != null && e.getMessage == "boom", s"Par.jobs ended with $e")
  }

  test("a VirtualMachineError rethrows without waiting for the other branches") {
    val release = new java.util.concurrent.CountDownLatch(1)
    val t0 = System.nanoTime()
    try intercept[StackOverflowError] {
      Par.jobs(() => release.await(), () => throw new StackOverflowError("simulated"))
    } finally release.countDown()
    assert((System.nanoTime() - t0) / 1e9 < 10)
  }
}
