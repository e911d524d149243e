package graft.operators

import org.apache.spark.sql.DataFrame

/** Mid-plan materialization with a fault-tolerance knob.
  *
  * Several operators materialize an expensive intermediate frame that
  * feeds multiple join branches (signature frames, decoded hash words):
  * materializing computes it once, and cutting the lineage stops
  * Catalyst re-analyzing/codegen'ing the whole upstream tree per branch.
  *
  * `spark.graft.materialize` selects the mechanism:
  *
  *  - `"local"` (default): `localCheckpoint()` — executor-local blocks,
  *    fastest, right for single-node / interactive use. NOT fault-
  *    tolerant: a lost executor loses partitions whose lineage was cut,
  *    failing the query.
  *  - `"reliable"`: `checkpoint()` — writes to the configured
  *    `SparkContext.setCheckpointDir` (HDFS/object store on a cluster).
  *    Survives executor loss; the right setting for long 100 TB runs.
  *  - `"none"`: pass-through (no materialization, full lineage). Lets
  *    Catalyst see through the whole plan; right when the consumer only
  *    reads the frame once.
  */
object Materialize {
  val ModeKey = "spark.graft.materialize"

  /** With `eager = false` no job of its own cuts the lineage: the first
    * job that reads the frame fills the blocks every later job reads. */
  def apply(df: DataFrame, eager: Boolean = true): DataFrame =
    df.sparkSession.conf.get(ModeKey, "local") match {
      case "local"    => df.localCheckpoint(eager)
      case "reliable" => df.checkpoint(eager)
      case "none"     => df
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be one of local|reliable|none, got $other")
    }

  /** Like [[apply]], but ALWAYS cuts lineage — `"none"` falls back to
    * `localCheckpoint()`. Iterative operators (connected components)
    * must use this: without a real per-round cut, each round's plan
    * embeds ~3 copies of the previous round's plan (neighborhood-min
    * join, pointer-jump join, convergence probe), so plan size — and
    * re-execution of the upstream pair pipeline — grows exponentially
    * with the round count, an effective hang on realistic graphs. */
  def iterative(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(ModeKey, "local") match {
      case "reliable"       => df.checkpoint()
      case "local" | "none" => df.localCheckpoint()
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be one of local|reliable|none, got $other")
    }

  /** Free the storage blocks behind a frame returned by [[apply]].
    * Iterative operators that materialize per round (connected
    * components) call this on superseded rounds so dead snapshots don't
    * pin executor storage for the session's lifetime. No-op for
    * `"none"`-mode (plain plan) frames. */
  def unpersist(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}
