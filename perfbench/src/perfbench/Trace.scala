package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed region around a call into a layer. `counters` is filled
  * only while tracing is on. */
final class Span(val id: Long, val parent: Long, val name: String, val traced: Boolean, val startNs: Long) {
  var endNs: Long = startNs
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def wallS: Double = (endNs - startNs) / 1e9
  def add(key: String, v: Double): Unit = counters(key) = counters.getOrElse(key, 0.0) + v
  def get(key: String): Double = counters.getOrElse(key, 0.0)
}

/** Spans for the benchmark's own calls into the program, kept in
  * memory and written out at the end.
  *
  * Wall time is taken for every span. While tracing, each span runs
  * under its own Spark job group and a listener attributes the group's
  * jobs, task metrics and SQL executions to the span:
  * executor CPU, GC, shuffle/spill/IO bytes, job count, planning time
  * from `QueryPlanningTracker`, and the output rows of the join nodes of
  * each final executed plan. [[setTracing]] adds or removes the
  * listener, so one process can alternate traced and untraced
  * iterations and state the tracing overhead. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val stack = mutable.Stack.empty[Span]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var tracing = false

  private val GroupPrefix = "perfbench-span-"
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()

  private def spanOfGroup(group: String): Option[Span] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .flatMap(g => Option(byId.get(g.stripPrefix(GroupPrefix).toLong)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => spanOfGroup(p.getProperty("spark.jobGroup.id"))).foreach { s =>
        s.synchronized(s.add("jobs", 1))
        e.stageIds.foreach(stageSpan.put(_, s))
        Option(e.properties.getProperty("spark.sql.execution.id")).foreach(x => execSpan.put(x.toLong, s))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        if (m != null) s.synchronized {
          s.add("task_cpu_s", m.executorCpuTime / 1e9)
          s.add("gc_s", m.jvmGCTime / 1e3)
          s.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          s.add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
          s.add("bytes_read_mb", m.inputMetrics.bytesRead / 1e6)
          s.add("bytes_written_mb", m.outputMetrics.bytesWritten / 1e6)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        x.jobGroupId.flatMap(spanOfGroup).foreach(execSpan.put(x.executionId, _))
      case x: SparkListenerSQLExecutionEnd =>
        for (s <- Option(execSpan.get(x.executionId)); qe <- PerfbenchAccess.queryExecution(x)) {
          val planMs = qe.tracker.phases.values.map(_.durationMs).sum
          val joins = joinRows(qe.executedPlan)
          s.synchronized {
            s.add("plan_s", planMs / 1e3)
            s.add("join_rows", joins.toDouble)
          }
        }
      case _ => ()
    }
  }

  /** Sum of "number of output rows" over the join nodes of the final
    * (post-AQE) plan; a reused exchange is counted where it first ran. */
  private def joinRows(p: SparkPlan): Long = {
    val own = p match {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _               => 0L
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _: ReusedExchangeExec    => Nil
      case _                        => p.children
    }
    own + kids.map(joinRows).sum
  }

  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) {
      sc.addSparkListener(listener)
    } else {
      PerfbenchAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    tracing = on
  }

  /** Runs `body` as a span named `name`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = new Span(nextId.getAndIncrement(), parent, name, tracing, System.nanoTime())
    spans += s
    val outerGroup = sc.getLocalProperty("spark.jobGroup.id")
    if (tracing) {
      byId.put(s.id, s)
      sc.setJobGroup(GroupPrefix + s.id, name)
    }
    stack.push(s)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      if (tracing) {
        if (outerGroup != null) sc.setJobGroup(outerGroup, "") else sc.clearJobGroup()
      }
    }
  }

  /** Waits until every listener event posted so far has been handled. */
  def settle(): Unit = if (tracing) PerfbenchAccess.drain(sc)

  /** The span and all spans below it. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == root.id).toSeq
    root +: kids.flatMap(subtree)
  }

  /** Span duration minus the part of it its direct children cover. */
  def selfS(s: Span): Double = s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    sb.append("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","traced":${s.traced},""")
      sb.append(s""""start_ns":${s.startNs},"end_ns":${s.endNs},"wall_s":${s.wallS},"self_s":${selfS(s)}""")
      s.counters.foreach { case (k, v) => sb.append(s""","$k":$v""") }
      sb.append(if (i + 1 < spans.size) "},\n" else "}\n")
    }
    sb.append("]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
