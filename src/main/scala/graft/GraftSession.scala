package graft

import org.apache.spark.sql.SparkSession

/** The one local session configuration of the graft entry points
  * (Bench, Verify, Explain, EntrySmoke, ScaleUp), so captured plans are
  * the benched plans. Threads come from `SPARK_GRAFT_CPUS`, else the
  * host's core count; callers add their own settings on top. */
object GraftSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(): SparkSession.Builder = {
    val n = cpus.toString
    SparkSession.builder()
      .master(s"local[$n]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", n)
      // cross-engine determinism: every graft entry point pins UTC (the
      // NTZ fallback in Tables.normalizeTs is exact only under UTC)
      .config("spark.sql.session.timeZone", "UTC")
      // testdata tables are single parquet files; smaller input splits
      // let map-heavy chains use every core instead of 1-2 scan tasks
      .config("spark.sql.files.maxPartitionBytes", "8m")
      // optimization-guide §3.1/§9: let the planner pick shuffled hash
      // join over sort-merge, whose per-row byte-array sort dominates the
      // band joins: q_hamming_radius_join_pdq 4.7→2.6 s, pdq_scale_30k
      // 4.8→3.1 s, q_triangles 3.8→2.5 s at sf0.1. Not safe in general:
      // the setting is session-global, and the planner sizes the AVERAGE
      // partition, so a hash join can still run out of memory building
      // one skewed key. SHUFFLE_HASH hints on the band joins alone are
      // the way out (ROADMAP direction 4).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
  }
}
