package graft.tools

/** Print the formatted physical plan (and optionally run) one or more
  * named SparkEntry queries: `runMain graft.tools.Explain <sfDir> <name>...`
  * Pass `--run` to also execute and time each query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val run = args.contains("--run")
    val noWscg = args.contains("--no-wscg")
    val rest = args.filterNot(a => a == "--run" || a == "--no-wscg")
    val sfDir = rest.head
    val names = if (rest.length > 1) rest.tail.toSeq else graft.SparkEntry.all.map(_.name)
    val spark = graft.GraftSession.builder()
      // SPARK_GRAFT_PREFER_SMJ=true recovers the old planner preference
      // for before/after plan diffs
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (noWscg) spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val qs = graft.SparkEntry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      qs(n)(spark, sfDir).explain("formatted")
      if (run) {
        // time construction + execution: operators with eager
        // materialization (localCheckpoint) do real work at construction.
        // noop sink, not count() — count() lets Catalyst prune expensive
        // derived columns and times little more than the scan.
        val t0 = System.nanoTime()
        val t1 = { qs(n)(spark, sfDir); System.nanoTime() }
        qs(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
        println(f"-- $n: done in ${(System.nanoTime() - t0) / 1e9}%.2f s " +
          f"(construct ${(t1 - t0) / 1e9}%.2f s)")
      }
    }
    spark.stop()
  }
}
