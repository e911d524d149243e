package graft.operators

import graft.functions.HashFunctions.{absoluteThreshold, canonicalHex64, validateThreshold, PdqHashLength}
import graft.functions.UrlFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
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
  * The input is read once. Its projection `(index, base_url, pdq_hash)`
  * (each url normalized once) sits behind a lazy checkpoint
  * ([[Materialize]] with `eager = false`, so `spark.graft.materialize`
  * governs it), and one fact query fills it: a single `groupBy(kind,
  * key)` over the index keys and the canonical hashes returns the
  * non-unique indexes, the distinct hashes the kernel packs, and, as
  * metrics observed on its scan, the widest row and the fixed-width
  * facts ([[PdqDuplicates.Facts]]). The URL self-join and the PDQ
  * expansion then read the checkpoint's blocks. The returned frame pins
  * those blocks until it is unreachable. A literal input (a
  * `LocalRelation`) is not cut.
  *
  * @param validateUniqueIndex runs the uniqueness assertion
  *        (`__init__.py:76-79`) on the fact query's shuffle; disable at
  *        scale when uniqueness is guaranteed upstream.
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
    val in = validate(df, checked, similarityThreshold, method, validateUniqueIndex, assumeFixed256)
    val urlE: Option[DataFrame] =
      if (in.hasUrl) Some(UrlDuplicates.edgesOf(in.cut.select("index", "base_url"), checked)
        .select(col("index"), lit("url").as("kind"), col("partner"),
          lit(null).cast("double").as("similarity")))
      else None
    val pdqE: Option[DataFrame] =
      if (in.hasPdq) Some(PdqDuplicates.edgesOf(in.cut.select("index", "pdq_hash"), checked,
        similarityThreshold, in.strategy, assumeFixed256, in.facts)
        .select(col("index"), lit("pdq").as("kind"), col("partner"), col("similarity")))
      else None
    (urlE, pdqE) match {
      case (Some(u), Some(p)) => u.unionByName(p)
      case (Some(u), None)    => u
      case (None, Some(p))    => p
      case (None, None)       => throw new IllegalStateException("unreachable")
    }
  }

  /** The cut input, its branches, and what the fact query found. */
  private final case class Input(cut: DataFrame, hasUrl: Boolean, hasPdq: Boolean,
      strategy: PdqDuplicates.Strategy, facts: Option[PdqDuplicates.Facts])

  /** Non-unique indexes the error names, at most. */
  private val MaxNamedDupes = 20

  /** Shared input validation: required columns, method dispatch, the
    * projection and its cut, and the one fact query. The query keys
    * each index (kind 0, kept when repeated) and, for a probe-all call
    * the kernel may take, each canonical hash (kind 1, the distinct
    * ones the kernel packs), and collects at most 20 indexes plus one
    * hash past [[PdqDuplicates.collectLimit]] with a plain limit, which
    * stops reading partitions once it has that many rows. A collect cut
    * short with fewer than 20 indexes has met more hashes than that
    * bound, and may have missed a repeated index: a second query over
    * the filled checkpoint then takes the first 20 repeated indexes in
    * order, at most 20 from each partition. The widest row and the
    * fixed-width facts are metrics observed on its generator's rows.
    * With no index to validate and no hash to collect it does not run,
    * and a PDQ branch that needs facts reads them with a plain
    * aggregate. */
  private def validate(df: DataFrame, checked: Checked, similarityThreshold: Double, method: String,
      validateUniqueIndex: Boolean, assumeFixed256: Boolean): Input = {
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
    if (hasPdq) {
      validateThreshold(similarityThreshold)
      PdqDuplicates.requireStringHashes(df)
    }
    val projected = df.select(
      (Seq(col("index")) ++
        (if (hasUrl) Seq(UrlFunctions.normalizeUrl(col("url")).as("base_url")) else Nil) ++
        (if (hasPdq) Seq(col("pdq_hash")) else Nil)): _*
    )
    // a literal input stays visible as one (UrlDuplicates.run's empty check)
    val cut = projected.queryExecution.optimizedPlan match {
      case _: LocalRelation => projected
      case _                => Materialize(projected, eager = false)
    }
    val probeAll = checked == Checked.All
    val hashBound =
      if (!hasPdq || !probeAll) 0
      else PdqDuplicates.collectLimit(df.sparkSession, absoluteThreshold(PdqHashLength, similarityThreshold),
        strategy, probeAll = true)
    val observe = hasPdq && (probeAll || !assumeFixed256)
    val factsName = Telemetry.name("input_facts")
    val (dupes, observed, distinct) =
      if (!validateUniqueIndex && hashBound == 0) (Array.empty[String], None, None)
      else {
        val entries =
          if (hasPdq) PdqDuplicates.Facts.entries(cut)
          else cut.select(lit(0).as("pos"), col("index").cast("string").as("v"))
        val wanted = (if (validateUniqueIndex) Seq(col("kind") === 0) else Nil) ++
          (if (hashBound > 0) Seq(col("kind") === 1 && col("key").isNotNull) else Nil)
        val cols = PdqDuplicates.Facts.columns
        val keys = (if (observe) entries.observe(factsName, cols.head, cols.tail: _*) else entries)
          .select(when(col("pos") === 0, 0).otherwise(1).as("kind"),
            when(col("pos") === 0, col("v")).otherwise(canonicalHex64(col("v"))).as("key"))
          .filter(wanted.reduce(_ || _))
          .groupBy("kind", "key").count()
          .filter(col("kind") === 1 || col("count") > 1)
          .select("kind", "key")
        val named = if (validateUniqueIndex) MaxNamedDupes else 0
        val limit = named + (if (hashBound > 0) hashBound + 1 else 0)
        val query = keys.limit(limit)
        val rows = query.collect()
        val (indexRows, hashRows) = rows.partition(_.getInt(0) == 0)
        val indexes =
          if (rows.length < limit || indexRows.length >= named) indexRows
          else keys.filter(col("kind") === 0).orderBy("key").limit(named).collect()
        (indexes.take(named).map(_.getString(1)), query.queryExecution.observedMetrics.get(factsName),
          if (hashBound > 0) Some(hashRows.map(_.getString(1))) else None)
      }
    require(
      dupes.isEmpty,
      s"The DataFrame indexes are not unique. Non-unique indexes: ${dupes.mkString(", ")}"
    )
    // AQE drops the observing node from a plan whose input stage came out
    // empty, so an empty input reads its facts with a plain aggregate
    val facts =
      if (observe) Some(PdqDuplicates.Facts(observed.getOrElse(PdqDuplicates.Facts.aggregate(cut)), distinct))
      else None
    Input(cut, hasUrl, hasPdq, strategy, facts)
  }

  private def run(
      df: DataFrame,
      checked: Checked,
      similarityThreshold: Double,
      method: String,
      validateUniqueIndex: Boolean,
      assumeFixed256: Boolean
  ): DataFrame = {
    val in = validate(df, checked, similarityThreshold, method, validateUniqueIndex, assumeFixed256)
    val base = in.cut.select("index")

    val urlDups: Option[DataFrame] =
      if (in.hasUrl) Some(UrlDuplicates.run(in.cut.select("index", "base_url"), checked)) else None

    val pdqDups: Option[DataFrame] =
      if (in.hasPdq)
        Some(PdqDuplicates.run(in.cut.select("index", "pdq_hash"), checked, similarityThreshold,
          in.strategy, assumeFixed256, in.facts))
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
