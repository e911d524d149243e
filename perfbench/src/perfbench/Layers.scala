package perfbench

/** Per-layer metrics of a traced run, from its spans.
  *
  * Iteration metrics are medians over the traced iterations of the
  * per-iteration sum over that iteration's spans. `input_s`, `kernel_s`
  * and `kernel_cpu_s` come from the probes, which run the queries layer
  * (input synthesis) and the functions layer (the workload's scalar
  * kernels) on their own. */
object Layers {
  private val IterationCounters = Seq(
    ("plan_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
    ("join_rows", "count"), ("jobs", "count"))

  def metrics(t: Tracer, w: Workload): Seq[(String, Double, String)] = {
    val iterations = t.spans.filter(s => s.name == "iteration" && s.traced).toSeq
    val probes = t.spans.filter(s => s.name == "probes" && s.traced).toSeq
    def perIteration(f: Seq[Span] => Double) = Stats.median(iterations.map(r => f(t.subtree(r))))
    def perProbe(f: Seq[Span] => Double) = Stats.median(probes.map(r => f(t.subtree(r))))
    def kernels(ss: Seq[Span]) = ss.filter(_.name.startsWith("functions."))
    Seq(
      ("construct_s", perIteration(_.filter(s => w.constructSpans(s.name)).map(_.wallS).sum), "s"),
      ("execute_s", perIteration(_.filter(s => w.executeSpans(s.name)).map(_.wallS).sum), "s"),
      ("construct_jobs", perIteration(_.filter(s => w.constructSpans(s.name)).map(_.get("jobs")).sum), "count")) ++
      IterationCounters.map { case (k, u) => (k, perIteration(_.map(_.get(k)).sum), u) } ++
      Seq(
        ("input_s", perProbe(_.filter(_.name == "queries.input").map(_.wallS).sum), "s"),
        ("kernel_s", perProbe(ss => kernels(ss).map(_.wallS).sum), "s"),
        ("kernel_cpu_s", perProbe(ss => kernels(ss).map(_.get("task_cpu_s")).sum), "s"))
  }

  /** One line per traced span name: medians of wall, self time and
    * every counter, and the share of the median traced iteration. */
  def spanTable(t: Tracer): Seq[String] = {
    val traced = t.spans.filter(_.traced).toSeq
    val iterWall = Stats.median(traced.filter(_.name == "iteration").map(_.wallS))
    traced.groupBy(_.name).toSeq.sortBy { case (_, ss) => ss.head.id }.map { case (name, ss) =>
      val keys = ss.flatMap(_.counters.keys).distinct
      val wall = Stats.median(ss.map(_.wallS))
      val counters = keys.map(k => f"$k=${Stats.median(ss.map(_.get(k)))}%.4f").mkString(" ")
      f"span $name: n=${ss.size} wall_s=$wall%.4f self_s=${Stats.median(ss.map(t.selfS))}%.4f " +
        f"share_of_iteration=${wall / iterWall}%.3f $counters"
    }
  }
}
