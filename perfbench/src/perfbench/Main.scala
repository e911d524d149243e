package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one closed-loop client that runs a workload's
  * iterations back to back on the main thread of one local Spark
  * session, then checks the output and prints every metric.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up is the JVM, the session and one warm-up iteration; the timed
  * window starts right after it. Untraced runs
  * report the end-to-end metrics; traced runs alternate traced and
  * untraced iterations, run the layer probes, and report the per-layer
  * metrics plus the tracing overhead. The last stdout line is
  * the JSON summary; spans go to `<work>/spans-<workload>-<seed>-trace<t>.json`. */
object Main {
  /** An iteration that takes longer than this is cancelled and counted failed. */
  private val IterationTimeoutMs = 60000L
  /** Fewest timed iterations a run reports a median over. */
  private val MinSamples = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val workDir = opt("work")
    require(Workloads.names.contains(workloadName),
      s"unknown workload $workloadName; expected one of ${Workloads.names.mkString(", ")}")

    val nproc = Runtime.getRuntime.availableProcessors()
    val loadBefore = Host.loadavg()
    // Session settings of graft.Bench, copied so the program is measured
    // as its own bench runs it.
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tracer = new Tracer(spark)
    val workload = Workloads(workloadName, spark, seed, workDir)
    var attempted = 0
    var failed = 0
    val watchdog = new java.util.Timer("perfbench-watchdog", true)

    /** One iteration under the watchdog; returns (wall s, process cpu s) or None. */
    def attempt(body: => Unit): Option[(Double, Double)] = {
      attempted += 1
      val task = new java.util.TimerTask { def run(): Unit = spark.sparkContext.cancelAllJobs() }
      watchdog.schedule(task, IterationTimeoutMs)
      val cpu0 = Host.processCpuS()
      val t0 = System.nanoTime()
      val out =
        try { body; Some(((System.nanoTime() - t0) / 1e9, Host.processCpuS() - cpu0)) }
        catch {
          case e: Exception =>
            System.err.println(s"[perfbench] iteration failed: $e")
            failed += 1
            None
        } finally task.cancel()
      tracer.settle()
      // iterations are independent: drop what an iteration persisted
      // (operators' local checkpoints included) and collect its garbage
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      out
    }

    // set-up ends after one untimed warm-up iteration, so first-iteration
    // planning, codegen and JIT cost is counted in setup_s
    val warm = attempt(tracer.span("warmup")(workload.iterate(tracer)))
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    if (warm.isEmpty) fail("warm-up iteration failed")
    // The timed window starts right after the warm-up, although warm
    // iterations keep getting faster for a minute while the JIT compiles
    // Spark's planner and generated code: the early part of that curve is
    // much the same in every run, while the speed it levels off at differs
    // from run to run by up to half. A window that skips the early part
    // gave medians that spread nearly twice as far between runs.

    val plain = mutable.ArrayBuffer.empty[(Double, Double)]
    val traced = mutable.ArrayBuffer.empty[(Double, Double)]
    val (busy0, self0) = Host.cpuJiffies()
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var i = 0
    var stop = false
    while (!stop && (elapsed < seconds || plain.size + traced.size < MinSamples)) {
      val on = trace && i % 2 == 0
      tracer.setTracing(on)
      attempt(tracer.span("iteration")(workload.iterate(tracer))) match {
        case Some(s) => (if (on) traced else plain) += s
        case None    => stop = true
      }
      i += 1
    }
    val loopS = elapsed
    val externalCores = Host.externalCores(busy0, self0, loopS)
    tracer.setTracing(false)

    val verdict =
      try workload.verify(tracer)
      catch { case e: Exception => Verdict(ok = false, s"check failed to run: $e") }
    attempted += 1
    if (!verdict.ok) failed += 1

    if (trace) {
      tracer.setTracing(true)
      for (_ <- 1 to 2) tracer.span("probes")(workload.probes(tracer))
      tracer.settle()
      tracer.setTracing(false)
    }
    val loadAfter = Host.loadavg()
    val peakRssMb = Host.peakRssMb()

    val samples = if (trace) traced else plain
    if (samples.isEmpty) fail("no timed iteration succeeded")
    val wallS = Stats.median(samples.map(_._1).toSeq)
    val cpuS = Stats.median(samples.map(_._2).toSeq)

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wallS, "s"),
      ("rows_per_s", workload.inputRows / wallS, "rows/s"),
      ("cpu_s", cpuS, "s"),
      ("peak_rss_mb", peakRssMb, "MB"))
    val perLayer = if (trace) Layers.metrics(tracer, workload) else Nil

    val report = mutable.ArrayBuffer.empty[String]
    report += f"workload $workloadName seed $seed trace ${if (trace) 1 else 0} nproc $nproc " +
      s"loadavg_before $loadBefore loadavg_after $loadAfter" + f" external_cores $externalCores%.2f" +
      (if (externalCores > 1.0) " CONTENDED" else "")
    report += f"timed iterations ${samples.size} over $loopS%.1f s; wall_s max ${samples.map(_._1).max}%.4f"
    (endToEnd ++ perLayer ++ workload.report(tracer)).foreach { case (k, v, u) => report += s"metric $k = $v $u" }
    if (trace) {
      val on = Stats.median(traced.map(_._1).toSeq)
      val off = Stats.median(plain.map(_._1).toSeq)
      report += f"tracing overhead: traced wall_s $on%.4f / untraced wall_s $off%.4f = ${on / off}%.3f " +
        s"(${traced.size} traced, ${plain.size} untraced iterations)"
      report ++= Layers.spanTable(tracer)
    }
    report += s"output check: ${if (verdict.ok) "PASS" else "FAIL"} ${verdict.detail}"
    report += s"fail_ratio ${failed.toDouble / attempted} ($failed of $attempted iterations)"
    val spansFile = java.nio.file.Paths.get(workDir, s"spans-$workloadName-$seed-trace${if (trace) 1 else 0}.json")
    tracer.writeJson(spansFile)
    report += s"spans written to $spansFile"
    report.foreach(println)

    val metrics = (if (trace) perLayer else endToEnd)
      .map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${verdict.ok},"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
    watchdog.cancel()
    spark.stop()
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(1)
  }
}

/** Host figures read from procfs. */
object Host {
  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))) catch { case _: Exception => "" }

  def loadavg(): String = read("/proc/loadavg").trim.split(" ").take(3).mkString(",")

  private def selfJiffies(): Long = {
    val st = read("/proc/self/stat")
    val rest = st.substring(st.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong // utime + stime, all threads
  }

  /** Process CPU (user + sys) in seconds, from /proc/self/stat (USER_HZ = 100). */
  def processCpuS(): Double = selfJiffies() / 100.0

  /** (system-wide busy jiffies, this process's jiffies). */
  def cpuJiffies(): (Long, Long) = {
    val all = read("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (all.take(8).sum - all(3) - all(4), selfJiffies())
  }

  /** Average cores other processes used since (busy0, self0). */
  def externalCores(busy0: Long, self0: Long, seconds: Double): Double = {
    val (busy1, self1) = cpuJiffies()
    math.max(0.0, ((busy1 - busy0) - (self1 - self0)) / (seconds * 100.0))
  }

  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
