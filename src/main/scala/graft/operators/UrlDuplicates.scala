package graft.operators

import graft.functions.UrlFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL exact-duplicate grouping.
  *
  * Reference: `cir_duplicate_detector/url.py:32-128` `find_url_duplicates`.
  * Pipeline: drop null urls -> normalize to base url -> group by base url
  * -> groups of size >= 2 are duplicate groups -> each member row is
  * annotated with the OTHER members' indexes. With `indexesToCheck`, a
  * group qualifies only if at least one CHECKED row belongs to it, but
  * then ALL of its members are annotated (bi-directional membership —
  * `url.py:35-43`, pinned by `tests/unit/test_url.py:106-120`).
  *
  * Spark shape: one narrow map (normalize) + ONE shuffle (window over
  * `base_url` computes the member list and the checked flag in the same
  * exchange — no groupBy + join-back, so no second shuffle). Member
  * arrays are sorted ascending: the engine's deterministic ordering
  * policy (SURVEY.md §7.6; pandas' input order is not reproducible on a
  * distributed shuffle).
  *
  * Scale note: a viral base_url turns into one giant member array on a
  * single partition. That skew is inherent to the output contract
  * (every member carries the full group); callers at 100 TB should
  * pre-aggregate with [[graft.operators.Dedup.exactGroups]] instead when
  * they only need group keys + counts.
  */
object UrlDuplicates {

  /** @param df (index: string, url: string) — index assumed unique
    *           (validated by [[DetectDuplicates]]).
    * @return (index: string, url_duplicates: array<string>) — only rows
    *         that have at least one duplicate.
    */
  def apply(df: DataFrame, indexesToCheck: Option[Seq[String]] = None): DataFrame =
    run(baseUrls(df), Checked.from(indexesToCheck))

  /** [[apply]] with the checked set as a DataFrame carrying an `index`
    * column — the checked flag arrives via a join (broadcast when
    * small) instead of an `isin` literal list, so million-entry checked
    * sets keep a sane plan. Bi-directional membership semantics are
    * identical: one checked member qualifies the whole group. */
  def checkedBy(df: DataFrame, checked: DataFrame): DataFrame =
    run(baseUrls(df), Checked.Frame(checked))

  /** `(index, base_url)`: the url normalized, a null url kept as a null
    * base url. [[run]] and [[edgesOf]] take this shape, so a caller that
    * normalized its input already (DetectDuplicates) passes it as is. */
  private[operators] def baseUrls(df: DataFrame): DataFrame =
    df.select(col("index"), UrlFunctions.normalizeUrl(col("url")).as("base_url"))

  /** Flat duplicate-edge relation `(index, partner)` — one row per
    * ordered pair sharing a base url, both directions present. The
    * output shape that scales: a viral base url yields k·(k-1) plain
    * rows across partitions instead of k single-partition rows each
    * dragging a k-element array. Group qualification under a checked
    * set is identical to [[apply]] (≥ 1 checked member qualifies the
    * whole group). Value-equivalent to exploding [[apply]]'s arrays
    * (asserted in the suite). */
  def edges(df: DataFrame, indexesToCheck: Option[Seq[String]] = None): DataFrame =
    edgesOf(baseUrls(df), Checked.from(indexesToCheck))

  /** [[edges]] over [[baseUrls]]' shape. */
  private[operators] def edgesOf(df: DataFrame, checked: Checked): DataFrame = {
    val norm = df.filter(col("base_url").isNotNull)
    val qualified = checked match {
      case Checked.All => norm
      case Checked.Literals(seq) =>
        norm.join(
          norm.filter(col("index").isin(seq: _*)).select("base_url").distinct(),
          Seq("base_url"), "left_semi")
      case Checked.Frame(c) =>
        norm.join(
          norm.join(c.select("index"), Seq("index"), "left_semi").select("base_url").distinct(),
          Seq("base_url"), "left_semi")
    }
    qualified.as("a")
      .join(qualified.as("b"),
        col("a.base_url") === col("b.base_url") && col("a.index") =!= col("b.index"))
      .select(col("a.index").as("index"), col("b.index").as("partner"))
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** [[apply]] over [[baseUrls]]' shape. */
  private[operators] def run(df: DataFrame, checked: Checked): DataFrame = {
    // `url.py:56-59` empty-series UserWarning twin, fired when emptiness
    // is knowable WITHOUT a scan: the optimized plan folds to an empty
    // LocalRelation (the reference's own case — a literal empty series;
    // driver-side analysis only, zero jobs). An eager `df.isEmpty` probe
    // would cost a limit(1) job per invocation, and on a derived input
    // it executes the whole upstream subtree twice; a post-run
    // observe-listener does not work either — AQE replans runtime-empty
    // stages as empty relations and drops the CollectMetrics node. A
    // file-backed input that merely CONTAINS no rows therefore returns
    // the correct empty result silently — the documented divergence.
    df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation if lr.data.isEmpty =>
        Warnings.warn(log, "The url series is empty, no duplicates will be found.")
      case _ => ()
    }
    // A4 telemetry twin (`url.py:70-74` null-drop count): observe rides
    // the existing jobs, metrics surface via QueryExecutionListener
    val norm = df
      .observe(Telemetry.name("url_input"), count(lit(1)).as("n_rows"),
        sum(when(col("base_url").isNull, 1).otherwise(0)).as("n_null_urls"))
      .filter(col("base_url").isNotNull)

    // the Frame variant marks checked rows BEFORE the window, so the
    // group flag rides the same single shuffle as the member list
    val marked = checked match {
      case Checked.Frame(c) =>
        norm.join(c.select("index").distinct().withColumn("__checked", lit(1)),
          Seq("index"), "left")
      case _ => norm
    }

    val w = Window.partitionBy("base_url")
    val withMembers = marked.withColumn("members", collect_list("index").over(w))

    val qualified = checked match {
      case Checked.All => withMembers
      case Checked.Literals(seq) =>
        // group qualifies iff it contains at least one checked index
        withMembers.withColumn(
          "n_checked",
          sum(when(col("index").isin(seq: _*), 1).otherwise(0)).over(w)
        ).filter(col("n_checked") > 0).drop("n_checked")
      case Checked.Frame(_) =>
        withMembers.withColumn("n_checked", sum(col("__checked")).over(w))
          .filter(col("n_checked") > 0).drop("n_checked", "__checked")
    }

    qualified
      .filter(size(col("members")) > 1)
      .select(
        col("index"),
        array_remove(sort_array(col("members")), col("index")).as("url_duplicates")
      )
      // `url.py:121-126` "Found N rows with duplicates" twin
      .observe(Telemetry.name("url_result"), count(lit(1)).as("n_rows_with_duplicates"))
  }
}
