package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Top-level duplicate detection API.
  *
  * Reference: `cir_duplicate_detector/__init__.py:11-118`
  * `detect_duplicates`. Validates the input, runs the url and/or pdq
  * branches, left-joins both result sets onto the index relation, keeps
  * rows with at least one duplicate of either kind, and returns `index`
  * first.
  *
  * Input contract (reference `__init__.py:43-79`): an `index` column
  * (Spark has no row labels — the index-as-column spelling the reference
  * itself supports at `__init__.py:62-71` is the only one here), plus
  * `url` and/or `pdq_hash` columns; the index must be unique.
  *
  * @param validateUniqueIndex runs the uniqueness assertion
  *        (`__init__.py:76-79`) — one extra aggregation over the input;
  *        disable at scale when uniqueness is guaranteed upstream.
  */
object DetectDuplicates {

  val outputSchema: StructType = StructType(Seq(
    StructField("index", StringType),
    StructField("url_duplicates", ArrayType(StringType)),
    StructField("pdq_hash_duplicates", ArrayType(StringType)),
    StructField("pdq_hash_similarities", ArrayType(DoubleType))
  ))

  def apply(
      df: DataFrame,
      indexesToCheck: Option[Seq[String]] = None,
      similarityThreshold: Double = 0.8,
      method: String = "naive",
      validateUniqueIndex: Boolean = true,
      assumeFixed256: Boolean = false
  ): DataFrame =
    run(df, Checked.from(indexesToCheck), similarityThreshold, method, validateUniqueIndex, assumeFixed256)

  /** [[apply]] with the checked set as a DataFrame (`index` column) —
    * the scalable spelling of the reference's `indexes_to_check` Series
    * (`__init__.py:11-16`): restriction is planned as joins, never as a
    * literal predicate. */
  def checkedBy(
      df: DataFrame,
      checked: DataFrame,
      similarityThreshold: Double = 0.8,
      method: String = "naive",
      validateUniqueIndex: Boolean = true,
      assumeFixed256: Boolean = false
  ): DataFrame =
    run(df, Checked.Frame(checked), similarityThreshold, method, validateUniqueIndex, assumeFixed256)

  /** Flat duplicate-edge relation `(index, kind, partner, similarity)`
    * — `kind` ∈ {url, pdq}, url edges carry NULL similarity. Same
    * validation and branch semantics as [[apply]], but the result is
    * one plain row per duplicate edge instead of per-row arrays — the
    * output contract that scales (a k-member clique is k·(k-1) rows
    * spread across partitions, not k rows each dragging k-element
    * arrays through one partition) and the natural input to downstream
    * joins. Rows with no duplicates simply have no edges (the array
    * API's dropna twin). Value-equivalent to exploding [[apply]]'s
    * arrays (asserted in the suite). */
  def edges(
      df: DataFrame,
      indexesToCheck: Option[Seq[String]] = None,
      similarityThreshold: Double = 0.8,
      method: String = "naive",
      validateUniqueIndex: Boolean = true,
      assumeFixed256: Boolean = false
  ): DataFrame = {
    val checked = Checked.from(indexesToCheck)
    val (projected, hasUrl, hasPdq, strategy, maxHashesPerRow) = validate(df, method, validateUniqueIndex)
    val urlE: Option[DataFrame] =
      if (hasUrl) Some(UrlDuplicates.edgesOf(projected.select("index", "url"), checked)
        .select(col("index"), lit("url").as("kind"), col("partner"),
          lit(null).cast("double").as("similarity")))
      else None
    val pdqE: Option[DataFrame] =
      if (hasPdq) Some(PdqDuplicates.edgesOf(projected.select("index", "pdq_hash"), checked,
        similarityThreshold, strategy, assumeFixed256, maxHashesPerRow)
        .select(col("index"), lit("pdq").as("kind"), col("partner"), col("similarity")))
      else None
    (urlE, pdqE) match {
      case (Some(u), Some(p)) => u.unionByName(p)
      case (Some(u), None)    => u
      case (None, Some(p))    => p
      case (None, None)       => throw new IllegalStateException("unreachable")
    }
  }

  /** Shared input validation: projection, required columns, method
    * dispatch, uniqueness assertion. The uniqueness query also observes
    * the most hashes on one row (the last value returned; None when the
    * query did not run over a `pdq_hash` column) on the scan it makes
    * anyway, which [[PdqDuplicates.edgesOf]] would otherwise scan for;
    * it brings at most 20 indexes to the driver. */
  private def validate(df: DataFrame, method: String, validateUniqueIndex: Boolean)
      : (DataFrame, Boolean, Boolean, PdqDuplicates.Strategy, Option[Int]) = {
    val cols = df.columns.toSet
    val hasUrl = cols.contains("url")
    val hasPdq = cols.contains("pdq_hash")
    require(
      hasUrl || hasPdq,
      s"Column `url` or `pdq_hash` not found in dataframe. Found columns: ${df.columns.mkString(", ")}"
    )
    require(
      cols.contains("index"),
      "The DataFrame index is not set and no index column is found. Please set the index or add an 'index' column."
    )
    // fail fast on a bad method name even when pdq_hash is absent
    val strategy = PdqDuplicates.Strategy.fromMethod(method)
    val projected = df.select(
      (Seq(col("index")) ++
        (if (hasUrl) Seq(col("url")) else Nil) ++
        (if (hasPdq) Seq(col("pdq_hash")) else Nil)): _*
    )
    val maxHashesPerRow = if (!validateUniqueIndex) None else {
      val widest = Telemetry.name("max_hashes_per_row")
      val input = if (hasPdq) projected.observe(widest, max(size(col("pdq_hash"))).as("n")) else projected
      val query = input.groupBy("index").count().filter(col("count") > 1).limit(20)
      val dupes = query.collect().map(_.getString(0))
      require(
        dupes.isEmpty,
        s"The DataFrame indexes are not unique. Non-unique indexes: ${dupes.mkString(", ")}"
      )
      query.queryExecution.observedMetrics.get(widest)
        .map(r => if (r.isNullAt(0)) 0 else r.getInt(0).max(0))
    }
    (projected, hasUrl, hasPdq, strategy, maxHashesPerRow)
  }

  private def run(
      df: DataFrame,
      checked: Checked,
      similarityThreshold: Double,
      method: String,
      validateUniqueIndex: Boolean,
      assumeFixed256: Boolean
  ): DataFrame = {
    val (projected, hasUrl, hasPdq, strategy, _) = validate(df, method, validateUniqueIndex)
    val base = projected.select("index")

    val urlDups: Option[DataFrame] =
      if (hasUrl) Some(UrlDuplicates.run(projected.select("index", "url"), checked)) else None

    val pdqDups: Option[DataFrame] =
      if (hasPdq)
        Some(PdqDuplicates.run(projected.select("index", "pdq_hash"), checked, similarityThreshold,
          strategy, assumeFixed256))
      else None

    val nullArr = lit(null).cast(ArrayType(StringType))
    val nullSims = lit(null).cast(ArrayType(DoubleType))

    val joined = (urlDups, pdqDups) match {
      case (Some(u), Some(p)) => base.join(u, Seq("index"), "left").join(p, Seq("index"), "left")
      case (Some(u), None) =>
        base.join(u, Seq("index"), "left")
          .withColumn("pdq_hash_duplicates", nullArr)
          .withColumn("pdq_hash_similarities", nullSims)
      case (None, Some(p)) =>
        base.withColumn("url_duplicates", nullArr).join(p, Seq("index"), "left")
      case (None, None) => throw new IllegalStateException("unreachable")
    }

    joined
      .filter(
        col("url_duplicates").isNotNull ||
          col("pdq_hash_duplicates").isNotNull ||
          col("pdq_hash_similarities").isNotNull
      )
      .select("index", "url_duplicates", "pdq_hash_duplicates", "pdq_hash_similarities")
      .orderBy("index")
  }

  def emptyResult(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outputSchema)
}
