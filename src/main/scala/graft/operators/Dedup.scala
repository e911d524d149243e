package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation. Four tiers,
  * cheapest first — the standard LLM-training-data stack:
  *
  *  1. [[exactGroups]] — hash-groupBy exact dedup (one shuffle);
  *  2. [[minhashLshPairs]] — MinHash + banded LSH near-dup candidate
  *     generation with exact-Jaccard verification (shuffles scale with
  *     candidates, never all-pairs);
  *  3. [[simhashSigs]] / [[simhashPairs]] — 60-bit SimHash with banded
  *     blocking for Hamming-radius matching;
  *  4. [[ngramJaccardPairs]] — exact all-pairs Jaccard (ground truth /
  *     small-N verification tier).
  *
  * Everything is pure column expressions over built-in functions
  * (whole-stage codegen; no UDFs), and every hash is md5-derived so the
  * DuckDB oracle replays results exactly.
  *
  * Scale notes (100 TB): all pair generation goes through
  * `dropDuplicates` on banded keys BEFORE verification; identical-text
  * skew collapses in the exact tier first; LSH band width trades recall
  * vs candidate count (bands = b, rows = k/b: P(candidate) =
  * 1-(1-j^(k/b))^b).
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact duplicate groups over arbitrary key columns: one row per
    * group with ≥ minSize members, its size, and the keeper (min id). */
  def exactGroups(df: DataFrame, keys: Seq[String], idCol: String, minSize: Int = 2): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), min(col(idCol)).as("keeper"))
      .filter(col("n_rows") >= minSize)

  /** The exact-dedup SURVIVOR relation: one keeper row (minimum id) per
    * distinct key combination, with the keeper's full row — what a
    * curation pipeline writes out after the exact tier. One shuffle on
    * the keys (min-id aggregate) + one id-equi-join back to the input;
    * the join is on the UNIQUE id, so no skew regardless of how viral a
    * duplicate group is. */
  def keepFirst(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
      .join(df, Seq(idCol))

  /** Scan-width guard for map-heavy chains: when the input plan has
    * far fewer partitions than the cluster has slots (a handful of
    * small parquet files — one row group is one unsplittable scan
    * partition), round-robin repartition so per-row CPU work (md5 per
    * shingle) isn't pinned to one or two cores. At production scale a
    * 100 TB scan already yields thousands of splits and this is a
    * no-op — the text is never shuffled.
    *
    * Cost note: `df.rdd.getNumPartitions` physically plans the input
    * subtree (no execution) to read its partitioning — driver-side plan
    * time only, paid once per shingle build; it also reads the
    * PRE-execution count, which is the right side to guard on (AQE may
    * coalesce at runtime, but a wide pre-AQE scan never spreads). */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target) else df
  }

  /** (id, pos, h) rows: the 60-bit hash of each n-word shingle of
    * `textCol`, one row per shingle in document order (`pos` = word
    * index of the shingle start).
    *
    * Map-only: the codegen'd [[graft.plans.ShingleHash60]] kernel
    * hashes every shingle straight out of the word bytes, then a
    * codegen posexplode emits the rows — ZERO shuffles, one pass over
    * the text. (Two prior shapes both lost: interpreted higher-order
    * functions ran the fold + md5 through the lambda interpreter ~2.5×
    * slower, and the relational window-`lead` build paid a full
    * repartition of the raw text per consumer.) */
  def shingleHashRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spread(df)
      .select(col(idCol).as("id"),
        posexplode(graft.plans.ShingleHash60(words(col(textCol)), n)))
      .select(col("id"), col("pos"), col("col").as("h"))

  /** (id, shingle-hash array) helper: distinct 30-bit hashes of n-word
    * shingles of `textCol`, in first-occurrence (document) order —
    * identical arrays to the original fold formulation. Documents with
    * no shingles (< n words) are absent, as in the exploded relation.
    * Map-only: array ops over the [[graft.plans.ShingleHash60]] kernel
    * output; the lambda in `transform` binds the kernel's array once,
    * so nothing re-evaluates.
    *
    * Contract: input ids must be UNIQUE (one text per id) — this is a
    * per-ROW map, so duplicate ids yield duplicate (id, hs) rows and
    * every downstream id-join (signature aggregation excepted) fans
    * out, duplicating pair rows. Same contract as [[Packing.packChunks]];
    * run [[exactGroups]]/[[keepFirst]] first if ids can repeat. */
  def shingleHashes30(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spread(df)
      .select(col(idCol).as("id"), shingleHashes30Col(col(textCol), n).as("hs"))
      .filter(size(col("hs")) > 0)

  /** The distinct 30-bit shingle hashes of one text column. */
  private def shingleHashes30Col(text: Column, n: Int): Column =
    array_distinct(transform(graft.plans.ShingleHash60(words(text), n), h => h % lit(1073741824L)))

  /** MinHash-LSH near-duplicate pairs.
    *
    * Pipeline: shingle → 30-bit hash → k-permutation MinHash signature →
    * split into `bands` bands → equi-join on (band_id, band signature) →
    * dropDuplicates(pair) → verify exact Jaccard ≥ threshold.
    *
    * Output: (id_a, id_b, jaccard) with id_a < id_b, one row per
    * verified pair. Deterministic: the verification is exact, so the
    * probabilistic part only affects which pairs are CANDIDATES; with
    * the fixed permutation family the candidate set itself is also
    * deterministic and oracle-replayable.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.6
  ): DataFrame = {
    // the shingle-hash frame feeds the signature aggregate plus both
    // verification joins. Materializing (not cache) both computes it
    // once AND cuts the lineage, so consumers plan against a flat scan
    // instead of re-analyzing/codegen'ing the whole shingle+md5 tree
    // per branch; spark.graft.materialize selects local vs reliable
    // checkpointing (see [[Materialize]]).
    minhashLshPairsFromHs(Materialize(shingleHashes30(df, idCol, textCol, shingleLen)),
      k, bands, threshold)
  }

  /** [[minhashLshPairs]] from an already-materialized (id, hs) frame —
    * lets compositions ([[lshRecallReport]]) share one shingle pass. */
  private[graft] def minhashLshPairsFromHs(hs: DataFrame, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    val banded = minhashBandRows(hs, k, bands)

    // candidate volume observable per invocation (skew monitoring —
    // same contract as simhashPairs' "candidates" metric)
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band") <=> col("b.band") &&
          col("a.id") < col("b.id"))
      .observe(Telemetry.name("minhash_lsh"), count(lit(1)).as("candidates"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    candidates
      .join(hs.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(hs.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).as("ni"),
        size(col("hs_a")).as("na"), size(col("hs_b")).as("nb"))
      .select(col("id_a"), col("id_b"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Slim MinHash band rows (id, band_id, band) from a materialized
    * (id, hs) shingle-hash frame — the joinable LSH index relation.
    *
    * Signatures run as explode + k codegen'd min-aggregates (map-side
    * combine: the shuffle carries one k-counter row per document) — the
    * per-row zip_with fold ([[graft.functions.TextFunctions.minhashSig]])
    * runs its interior interpreted, measured ~4 s of pure signature time
    * at sf0.1 vs sub-second for this shape. Same minima, same oracle.
    * The band rows keep the shingle arrays OUT of any join/broadcast —
    * arrays are joined back only for surviving candidates. */
  def minhashBandRows(hs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    val sigs = Materialize(
      hs.select(col("id"), explode(col("hs")).as("h"))
        .groupBy("id")
        .agg(min(minhashPerm(col("h"), 0)).as("m0"),
          (1 until k).map(i => min(minhashPerm(col("h"), i)).as(s"m$i")): _*)
        .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig")))
    sigs.select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * rows + 1, lit(rows))))
    ).select(col("id"), col("pos").as("band_id"), col("col").as("band"))
  }

  /** Diff two corpus snapshots by document identity and content — the
    * audit relation behind dataset versioning ("what changed between
    * yesterday's corpus and today's?"): `added` (id only in `cur`),
    * `removed` (id only in `prev`), `changed` (both, text md5 differs).
    * Unchanged docs are NOT emitted — at 100 TB the diff output scales
    * with the churn, not the corpus. Shape: two slim (id, md5)
    * projections full-outer-joined on id; the texts themselves never
    * shuffle.
    *
    * @return (id, status, prev_md5, cur_md5) — null md5 on the absent
    *         side */
  def corpusDiff(prev: DataFrame, cur: DataFrame, idCol: String, textCol: String): DataFrame = {
    // presence flags, NOT md5 nullness, decide the status: md5(null
    // text) is null, so a null-text doc on one side would otherwise
    // masquerade as absent (misclassified added/removed and a silent
    // divergence from the SQL twin's id-IS-NULL logic)
    val p = prev.select(col(idCol).as("id"), md5(col(textCol)).as("prev_md5"),
      lit(true).as("in_prev"))
    val c = cur.select(col(idCol).as("id"), md5(col(textCol)).as("cur_md5"),
      lit(true).as("in_cur"))
    p.join(c, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("in_prev").isNull, lit("added"))
          .when(col("in_cur").isNull, lit("removed"))
          .when(!(col("prev_md5") <=> col("cur_md5")), lit("changed"))
          .as("status"),
        col("prev_md5"), col("cur_md5"))
      .filter(col("status").isNotNull)
  }

  /** The build parameters a [[DedupIndex]] was derived with. They are
    * part of the index's identity: band arrays built with a different
    * `k`/`bands` never equi-join (every batch doc would silently
    * classify as `novel`), and a different `shingleLen` yields wrong
    * Jaccard values — so the params persist in the index manifest and
    * every classify validates against them instead of trusting the
    * caller to remember. */
  final case class IndexParams(shingleLen: Int, k: Int, bands: Int)

  /** The persistable corpus-side index for [[incrementalDedup]]: the
    * three relations the classify joins actually touch — each a pure
    * function of the corpus, so they are maintained ACROSS runs instead
    * of re-derived per batch (at 100 TB the inline derivation is a
    * full-corpus scan + repartition per daily delta; the index is
    * written once and appended to as batches are admitted).
    *
    *  - `md5`   — (m, cid): text md5 → corpus id, the exact tier;
    *  - `hs`    — (id, hs): distinct 30-bit shingle hashes per doc, the
    *    verification side;
    *  - `bands` — (id, band_id, band): MinHash LSH band rows, the
    *    candidate-join side;
    *  - `params` — the build parameters all three were derived with.
    */
  final case class DedupIndex(md5: DataFrame, hs: DataFrame, bands: DataFrame,
      params: IndexParams)

  /** Derive the corpus index inline. The hs relation feeds both the
    * band derivation and (twice) the verification joins — materialized
    * once here. */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, k: Int = 16, bands: Int = 4): DedupIndex = {
    // ONE corpus-text pass (guide §1.2 — don't compute things twice):
    // md5 and shingle hashes ride the same materialized scan. The md5
    // relation keeps EVERY doc (the exact tier matches empty/shingle-
    // less texts too); the hs relation drops shingle-less docs exactly
    // as shingleHashes30 does. Previously the md5 relation re-scanned
    // the corpus text beside the materialized shingle pass — at 100 TB
    // that is a second full-corpus read for one cheap column.
    val base = Materialize(spread(corpus).select(
      col(idCol).as("id"), md5(col(textCol)).as("m"),
      shingleHashes30Col(col(textCol), shingleLen).as("hs")))
    val cMd = base.select(col("m"), col("id").as("cid"))
    val cHs = base.filter(size(col("hs")) > 0).select("id", "hs")
    DedupIndex(cMd, cHs, minhashBandRows(cHs, k, bands), IndexParams(shingleLen, k, bands))
  }

  /** Manifest file name: written LAST by [[writeIndex]], required by
    * [[readIndex]] — so a write that died between relation jobs leaves
    * an index [[readIndex]] refuses to serve (no manifest), never one
    * that silently classifies against partial relations. */
  private val ManifestFile = "_GRAFT_INDEX_MANIFEST"

  private def hadoopFs(df: DataFrame, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(df.sparkSession.sessionState.newHadoopConf()), p)
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[IndexParams] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val props = new java.util.Properties()
        props.load(in)
        Some(IndexParams(props.getProperty("shingleLen").toInt,
          props.getProperty("k").toInt, props.getProperty("bands").toInt))
      } finally in.close()
    }

  /** Persist a [[DedupIndex]] as three parquet relations under `path`,
    * then a params manifest. Band rows are Hive-partitioned by
    * `band_id` (low cardinality, and the candidate join's equi-key — a
    * probe filtered to one band reads one directory).
    *
    * The three relation writes are separate jobs; the manifest is the
    * commit marker — written only after ALL relations land, and checked
    * by [[readIndex]] — so a failure mid-write is detected, not served.
    * Use SaveMode.Append for the admit-new-batch flow: an append onto
    * an index built with DIFFERENT params fails fast before touching
    * any relation (mixed-param band rows would silently never join). */
  def writeIndex(index: DedupIndex, path: String,
      mode: org.apache.spark.sql.SaveMode = org.apache.spark.sql.SaveMode.ErrorIfExists): Unit = {
    val (fs, mPath) = hadoopFs(index.md5, s"$path/$ManifestFile")
    val existing = readManifest(fs, mPath)
    if (mode == org.apache.spark.sql.SaveMode.Append) {
      // an append must land on a COMMITTED index: a manifest-less path
      // is either empty or a write that died mid-flight — appending
      // would bless partial relations with the trailing manifest write
      val prior = existing.getOrElse(throw new IllegalStateException(
        s"cannot append: no committed index manifest at $path (empty path, or an " +
          "interrupted writeIndex left partial relations) — write with Overwrite instead"))
      require(prior == index.params,
        s"cannot append a ${index.params} index onto one built with $prior at $path")
    }
    // un-commit BEFORE the first relation job in every mode: the old
    // manifest must not keep validating the index while the relations
    // beneath it are being rewritten/appended — a mid-write failure then
    // leaves a manifest-less path readIndex refuses, never a 'valid'
    // index with missing band rows
    if (existing.isDefined) fs.delete(mPath, false)
    // size-tracking output files (plain REBALANCE: AQE coalesces the
    // 32-task aggregate output to data-sized files instead of one
    // near-empty file per task; bands get the per-partition-value
    // rebalance inside writePartitioned)
    // the three relation jobs are independent (distinct subdirectories,
    // shared MATERIALIZED upstream) — run them concurrently (guide §2.6)
    // so each small job's scheduling/commit tail back-fills the others;
    // the manifest below still commits only after ALL of them land
    Par.jobs(
      () => index.md5.hint("rebalance").write.mode(mode).parquet(s"$path/md5"),
      () => index.hs.hint("rebalance").write.mode(mode).parquet(s"$path/hs"),
      () => graft.sources.Formats.writePartitioned(index.bands, s"$path/bands", Seq("band_id"), mode))
    val out = fs.create(mPath, true)
    try {
      val p = index.params
      out.write(s"shingleLen=${p.shingleLen}\nk=${p.k}\nbands=${p.bands}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
  }

  /** Read a persisted [[DedupIndex]]. The classify path over a read
    * index touches ZERO corpus text — the daily-delta contract. Fails
    * fast when the manifest is absent: either the path never held an
    * index or a [[writeIndex]] died before committing. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): DedupIndex = {
    val probe = spark.emptyDataFrame
    val (fs, mPath) = hadoopFs(probe, s"$path/$ManifestFile")
    val params = readManifest(fs, mPath).getOrElse(throw new IllegalStateException(
      s"no index manifest at $path — not a graft dedup index, or an interrupted writeIndex left it incomplete"))
    DedupIndex(
      spark.read.parquet(s"$path/md5"),
      spark.read.parquet(s"$path/hs"),
      spark.read.parquet(s"$path/bands")
        .select(col("id"), col("band_id").cast("int"), col("band")),
      params)
  }

  /** Compact a many-append index into a fresh index at `dstPath` — the
    * small-files counterweight to the Append flow (each daily delta
    * adds a file batch per relation; a year of deltas makes every
    * classify pay hundreds of file opens per band directory). Rows
    * copy VERBATIM — every relation is per-document, so no re-derive
    * is needed and classify over the compacted index is bit-identical
    * to the source (DedupSpec pins it). md5/hs land in `numFiles`
    * files; band rows are clustered by `band_id` so each Hive
    * partition directory holds exactly one file. The manifest commits
    * LAST with identical params; the source index is read-only
    * throughout — compact-then-swap is the caller's move. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, srcPath: String,
      dstPath: String, numFiles: Int = 1): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val idx = readIndex(spark, srcPath)
    writeIndex(DedupIndex(
      idx.md5.repartition(numFiles),
      idx.hs.repartition(numFiles),
      idx.bands.repartition(numFiles, col("band_id")),
      idx.params), dstPath)
  }

  /** Incremental dedup: classify a NEW batch of documents against an
    * EXISTING corpus — the daily-delta shape of a production curation
    * pipeline (yesterday's 100 TB corpus is settled; today's crawl must
    * be checked against it without re-deduplicating the world).
    *
    * Tiers, in priority order:
    *  - `exact` — batch text is byte-identical (md5) to a corpus doc;
    *  - `near`  — MinHash-LSH candidate verified at Jaccard ≥
    *    `threshold` against some corpus doc;
    *  - `novel` — neither.
    *
    * Scale shape: the batch side is small relative to the corpus, so
    * BOTH joins broadcast the batch (its md5 relation, its band rows) —
    * the corpus streams map-side and never shuffles. This overload
    * derives the corpus index inline (one corpus scan); the
    * [[DedupIndex]] overload takes precomputed relations
    * ([[buildIndex]] / [[readIndex]]) so the daily-delta path touches
    * no corpus text at all. Verification joins run only on the
    * candidate sliver.
    *
    * @return one row per batch doc: (id, status, match_id, jaccard) —
    *         match_id = min-id exact match, else the best-Jaccard
    *         (tie: min-id) near match, else null; jaccard = 1.0 for
    *         exact (md5-identical text has Jaccard 1), the verified
    *         value for near, null for novel.
    */
  def incrementalDedup(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.6
  ): DataFrame =
    incrementalDedup(batch, buildIndex(corpus, idCol, textCol, shingleLen, k, bands),
      idCol, textCol, shingleLen, k, bands, threshold)

  /** [[incrementalDedup]] against a precomputed [[DedupIndex]] — the
    * production shape: the corpus relations come from maintained tables
    * ([[readIndex]]), so classifying a batch costs one pass over the
    * BATCH text plus broadcast joins against the index; the settled
    * corpus is never re-scanned or re-shuffled. The batch side derives
    * with the INDEX's own persisted build params — the only values its
    * band rows can ever equi-join. */
  def incrementalDedup(
      batch: DataFrame,
      index: DedupIndex,
      idCol: String,
      textCol: String,
      threshold: Double
  ): DataFrame =
    incrementalDedup(batch, index, idCol, textCol,
      index.params.shingleLen, index.params.k, index.params.bands, threshold)

  /** [[incrementalDedup]] with caller-spelled params, validated against
    * the index's persisted ones: a mismatch would not error on its own —
    * band arrays of different lengths never equi-join, so every batch
    * doc would silently classify as `novel` — so it fails fast here. */
  def incrementalDedup(
      batch: DataFrame,
      index: DedupIndex,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      k: Int,
      bands: Int,
      threshold: Double
  ): DataFrame = {
    val asked = IndexParams(shingleLen, k, bands)
    require(asked == index.params,
      s"index was built with ${index.params}, classify asked for $asked — " +
        "a mismatch never joins (all docs would silently come back 'novel'); " +
        "use the params-free overload to adopt the index's own params")
    val bMd = batch.select(col(idCol).as("id"), md5(col(textCol)).as("m"))
    val exact = index.md5.join(broadcast(bMd), Seq("m"))
      .groupBy("id").agg(min(col("cid")).as("exact_id"))

    val bHs = Materialize(shingleHashes30(batch, idCol, textCol, shingleLen))
    val cHs = index.hs
    val bBands = minhashBandRows(bHs, k, bands)
      .select(col("id").as("bid"), col("band_id"), col("band"))
    val cBands = index.bands
    val cand = cBands.join(broadcast(bBands),
        cBands("band_id") === bBands("band_id") && cBands("band") <=> bBands("band"))
      .select(col("bid"), cBands("id").as("cid"))
      .dropDuplicates("bid", "cid")
    val verified = cand
      .join(bHs.select(col("id").as("bid"), col("hs").as("hs_b")), Seq("bid"))
      .join(cHs.select(col("id").as("cid"), col("hs").as("hs_c")), Seq("cid"))
      .select(col("bid"), col("cid"),
        size(array_intersect(col("hs_b"), col("hs_c"))).as("ni"),
        size(col("hs_b")).as("nb"), size(col("hs_c")).as("nc"))
      .select(col("bid"), col("cid"),
        (col("ni").cast("double") / (col("nb") + col("nc") - col("ni")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bid")
      .orderBy(col("jaccard").desc, col("cid"))
    val near = verified.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("bid").as("id"), col("cid").as("near_id"), col("jaccard").as("near_jac"))

    batch.select(col(idCol).as("id"))
      .join(exact, Seq("id"), "left")
      .join(near, Seq("id"), "left")
      .select(col("id"),
        when(col("exact_id").isNotNull, lit("exact"))
          .when(col("near_id").isNotNull, lit("near"))
          .otherwise(lit("novel")).as("status"),
        coalesce(col("exact_id"), col("near_id")).as("match_id"),
        when(col("exact_id").isNotNull, lit(1.0)).otherwise(col("near_jac")).as("jaccard"))
  }

  /** 60-bit SimHash signature per document: (id, simhash).
    *
    * Shape: MAP-ONLY — the [[graft.plans.TextKernels.SimhashSig60]]
    * kernel hashes each word and folds the 60 ±1 bit-sums in one
    * whole-stage-codegen'd pass per document, so no shuffle exists at
    * all (the previous explode → 60-column conditional-sum aggregate
    * carried the tokenized corpus through a repartition; bit-identical
    * per TextKernelsSpec — the per-bit sums are order-independent
    * integers). Zero-word documents drop out via the size filter
    * (explode semantics, as before). Scan splits provide the
    * parallelism (`spark.sql.files.maxPartitionBytes`). */
  def simhashSigs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), words(col(textCol)).as("ws"))
      .filter(size(col("ws")) > 0) // zero-word docs drop out (explode semantics)
      .select(col("id"), graft.plans.TextKernels.simhashSig60(col("ws")).as("simhash"))

  /** SimHash near-dup pairs within Hamming radius `maxDist`, via
    * pigeonhole banding over the 60 bits with optional MULTI-PROBE over
    * wide bands (the block-permutation scheme of Manku, Jain & Das
    * Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07).
    *
    * With `bands` bands, some band carries at most
    * `floor(maxDist / bands)` of the ≤ maxDist differing bits
    * (pigeonhole). Budget 0 → exact band equality; budget 1 → the probe
    * side also enumerates every 1-bit flip of each band value, so the
    * join stays an equi-join while bands stay WIDE. Wide bands are the
    * scale guard: maxDist+1 narrow bands over 60 bits have ≤ 2^6
    * distinct values each, so every band bucket grows linearly with the
    * corpus and the "equi-join" degenerates toward all-pairs; 2 bands
    * of 30 bits have 2^30 values — bucket sizes stay O(corpus/2^30 +
    * true-near-dup cluster size).
    *
    * The default `bands = 0` picks the WIDEST banding with per-band
    * error budget ≤ 1 — `floor(maxDist/2) + 1` bands (maxDist=3 → 2
    * bands of 30 bits; maxDist=10 → 6 bands of 10 bits) — so API
    * callers get the scale-safe scheme without tuning. Passing an
    * explicit `bands` (e.g. maxDist+1 for exact-match narrow bands)
    * still works but narrow bands degenerate at scale as above.
    * Candidate volume is observable via the "simhash_pairs"
    * observation (`candidates` metric) for skew monitoring.
    *
    * Output (id_a, id_b, dist), id_a < id_b. */
  def simhashPairs(sigs: DataFrame, maxDist: Int = 3, bands: Int = 0): DataFrame = {
    val nBands = if (bands > 0) bands else maxDist / 2 + 1
    val budget = maxDist / nBands
    require(nBands >= 1 && nBands <= 60, s"bands must be in [1, 60], got $nBands")
    require(budget <= 1,
      s"bands=$nBands too few for maxDist=$maxDist: per-band error budget " +
        s"floor($maxDist/$nBands)=$budget, only 0 (exact) and 1 (1-flip probe) supported")
    // near-equal cuts covering ALL 60 bits (60*j/n boundaries) — a band
    // of uncovered bits would break the pigeonhole completeness proof
    val cuts = (0 to nBands).map(j => 60 * j / nBands)
    def bandVal(j: Int): org.apache.spark.sql.Column =
      shiftright(col("simhash"), cuts(j)).bitwiseAND(lit((1L << (cuts(j + 1) - cuts(j))) - 1))
    // sigs is an expensive derivation consumed by both join sides —
    // materialize + cut lineage before fanning out (see minhashLshPairs)
    val matSigs = Materialize(sigs)
    val exact = matSigs.select(
      col("id"), col("simhash"),
      posexplode(array((0 until nBands).map(bandVal): _*))
    ).select(col("id"), col("simhash"), col("pos").as("band_id"), col("col").as("band"))

    // probe side: band value + every 1-bit flip (statically unrolled —
    // stays in whole-stage codegen). A pair differing in ≤ budget bits
    // of band j matches because the probe's flip set contains the
    // partner's exact value; one-directional expansion suffices.
    val probe =
      if (budget == 0) exact
      else matSigs.select(
        col("id"), col("simhash"),
        posexplode(array((0 until nBands).map { j =>
          val w = cuts(j + 1) - cuts(j)
          val v = bandVal(j)
          array((v +: (0 until w).map(b => v.bitwiseXOR(lit(1L << b)))): _*)
        }: _*)))
        .select(col("id"), col("simhash"), col("pos").as("band_id"), explode(col("col")).as("band"))

    // verify before dedup (see minhashLshPairs): the Hamming filter runs
    // map-side on the join output, the shuffle dedups only survivors
    probe.as("a")
      .join(exact.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band") === col("b.band") &&
          col("a.id") < col("b.id"))
      .observe(Telemetry.name("simhash_pairs"), count(lit(1)).as("candidates"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.simhash"), col("b.simhash")).cast("int").as("dist"))
      .filter(col("dist") <= maxDist)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "dist")
  }

  /** Connected components over an undirected duplicate-pair relation:
    * (id, cluster) with `cluster` = the component's minimum id — the
    * step that turns PAIR output ([[minhashLshPairs]], [[simhashPairs]],
    * [[graft.operators.PdqDuplicates.edges]]) into dedup GROUPS with a
    * canonical keeper per group, which is what a curation run actually
    * deletes against (keep `id == cluster`, drop the rest).
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING —
    * each round first takes the neighborhood minimum
    * `m(v) = min(label(v), min label(N(v)))`, then short-circuits
    * chains with `label'(v) = label(m(v))`. The jump is what makes the
    * round count O(log diameter) instead of O(diameter) (the
    * MapReduce-CC literature's doubling idea, cf. Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — a
    * pathological transitive near-dup chain of length 1000 converges in
    * ~10 rounds, not 1000. Each round is two shuffles over (id, label)
    * pairs — never the quadratic component contents — plus one cheap
    * first-difference convergence probe; per-round [[Materialize]] cuts
    * the otherwise-exponential iterative lineage.
    *
    * Input ids must be orderable (long, string, ...); output covers
    * every id incident to at least one pair (singletons never enter the
    * edge relation — union them in downstream if needed). */
  def connectedComponents(
      pairs: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIterations: Int = 25
  ): DataFrame = {
    // the edge relation is consumed once per round (plus the node scan):
    // materialize it up front, or the whole upstream pair pipeline —
    // typically an LSH join — re-executes every iteration
    // Materialize.iterative, not Materialize: the per-round cut must be
    // real even under spark.graft.materialize=none, or plan size grows
    // exponentially with the round count (3 copies of round N inside
    // round N+1)
    val sym = Materialize.iterative(pairs.select(col(srcCol).as("id"), col(dstCol).as("nbr"))
      .union(pairs.select(col(dstCol).as("id"), col(srcCol).as("nbr"))))
    var labels = Materialize.iterative(sym.select(col("id")).distinct().withColumn("label", col("id")))
    var iter = 0
    var done = false
    while (!done && iter < maxIterations) {
      // neighborhood minimum (map-side combinable aggregate)
      val nbrMin = sym.join(labels.select(col("id").as("nbr"), col("label").as("nl")), Seq("nbr"))
        .groupBy("id").agg(min(col("nl")).as("nm"))
      val m = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nm"), col("label"))).as("m"))
      // pointer jump: follow the chosen label's own label. Label values
      // are always node ids (minima over node ids), so the join is total.
      val next = Materialize.iterative(
        m.join(labels.select(col("id").as("m"), col("label").as("lm")), Seq("m"))
          .select(col("id"), col("lm").as("label")))
      val changed = next.as("n").join(labels.as("o"), Seq("id"))
        .filter(col("n.label") =!= col("o.label")).limit(1).count()
      Materialize.unpersist(labels) // superseded round: free its blocks
      labels = next
      done = changed == 0L
      iter += 1
    }
    if (!done) Warnings.warn(log,
      s"connectedComponents did not converge within maxIterations=$maxIterations — " +
        "returned cluster ids may still be split across components " +
        "(pointer jumping needs ~log2(diameter) rounds; raise maxIterations)")
    // the returned frame is the final materialized snapshot — it no
    // longer references the edge relation, so free sym's blocks too
    Materialize.unpersist(sym)
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** The near-dedup SURVIVOR relation — what a curation run actually
    * writes out: MinHash-LSH pairs → connected components → keep each
    * component's minimum id, drop the rest. Composes the gated tiers
    * end-to-end; singletons (docs in no pair) survive untouched via the
    * anti-join. The loser relation is slim (id only), so the final
    * anti-join is the only full-width pass and broadcasts when small.
    *
    * @return the surviving rows of `df`, all columns intact */
  def nearDupSurvivors(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.6
  ): DataFrame = {
    // the input lineage feeds BOTH the pair derivation and the final
    // anti-join — materialize once, or an expensive upstream chain
    // (e.g. HTML stripping in the e2e pipeline) executes twice
    val input = Materialize(df)
    val pairs = minhashLshPairs(input, idCol, textCol, shingleLen, k, bands, threshold)
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    input.join(losers, Seq(idCol), "left_anti")
  }

  /** [[nearDupSurvivors]] with QUALITY-AWARE keeper selection: per
    * near-dup component keep the row with the HIGHEST `scoreCol` (ties
    * → minimum id), not the minimum id — what a curation run that has
    * already scored its documents (e.g.
    * [[TextAnalysis.qualityScore]]) actually wants: dropping the
    * best-written copy of a template because a spammy mirror has a
    * smaller id is a real quality regression.
    *
    * The winner per component is a combinable `min(struct(-score, id))`
    * aggregate over the slim (id, cluster, score) relation — no sort
    * window, map-side partial — and the only full-width pass remains
    * the final anti-join. A null score ranks BELOW every non-null score
    * (coalesced to -∞); NaN scores are unsupported (NaN orders above
    * +∞ in Spark but engine-dependently elsewhere — scores are
    * ratios/sigmoids in this library, never NaN).
    *
    * @param scoreCol numeric column of `df`; cast to double
    * @return the surviving rows of `df`, all columns intact */
  def nearDupSurvivorsBy(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      shingleLen: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.6
  ): DataFrame = {
    val input = Materialize(df)
    val pairs = minhashLshPairs(input, idCol, textCol, shingleLen, k, bands, threshold)
    // slim (id, cluster, score) relation feeds BOTH the winner aggregate
    // and the loser filter — materialize once
    val members = Materialize(connectedComponents(pairs).join(
      input.select(col(idCol).as("id"),
        coalesce(col(scoreCol).cast("double"), lit(Double.NegativeInfinity)).as("s")),
      Seq("id")))
    val winners = members.groupBy("cluster")
      .agg(min(struct((-col("s")).as("ns"), col("id").as("id"))).as("w"))
      .select(col("cluster"), col("w.id").as("wid"))
    val losers = members.join(winners, Seq("cluster"))
      .filter(col("id") =!= col("wid"))
      .select(col("id").as(idCol))
    input.join(losers, Seq(idCol), "left_anti")
  }

  /** EXACT n-gram Jaccard pairs ≥ threshold — the ground-truth tier.
    *
    * Not all-pairs: for any `threshold > 0`, a qualifying pair must
    * share at least one shingle, so an equi-join on exploded shingle
    * hashes yields a COMPLETE candidate set (the standard inverted-
    * index prefilter of the exact-similarity-join literature, e.g.
    * Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07)
    * — results are identical to the quadratic scan, which took 21.8 s
    * at sf0.1 vs ~2 s indexed. Candidates dedupe before the exact
    * verification (size prefilter + set intersection). Skew note: a
    * shingle shared by k docs contributes k² candidate rows — the
    * exact tier should still run on restricted/sampled inputs; the
    * probabilistic tiers ([[minhashLshPairs]]) are the unrestricted
    * path. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.5
  ): DataFrame = {
    ngramJaccardPairsFromHs(Materialize(shingleHashes30(df, idCol, textCol, shingleLen)), threshold)
  }

  /** [[ngramJaccardPairs]] from an already-materialized (id, hs) frame.
    *
    * Verification is ROW-LEVEL (the [[ngramJaccardPairsCapped]] shape):
    * |A∩B| is a pair-count aggregate over the shared exploded rows —
    * exactly `size(array_intersect(hs_a, hs_b))` on the same distinct
    * sets, but the candidate join's output goes straight into a
    * map-side-combinable count instead of a pair dedupe plus two
    * array-carrying joins and a per-pair intersection (measured ~2× at
    * sf0.1; values bit-identical, oracle unchanged). */
  private[graft] def ngramJaccardPairsFromHs(hs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0, "threshold must be > 0 (shared-shingle candidate index is complete only for positive thresholds)")
    val ex = hs.select(col("id"), explode(col("hs")).as("h"))
    val sizes = hs.select(col("id"), size(col("hs")).as("n"))
    val pairCounts = ex.as("a")
      .join(ex.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("ni"))
    pairCounts
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT n-gram CONTAINMENT pairs — Broder's asymmetric measure
    * ("On the resemblance and containment of documents", SEQUENCES
    * 1997): containment(A in B) = |A∩B| / |A| over the distinct
    * 30-bit shingle sets. The relation symmetric Jaccard structurally
    * misses: a short document quoted whole inside a long one has
    * containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0 — the
    * quote/excerpt/boilerplate-wrapper case of dedup practice.
    *
    * Same complete inverted-index candidate set as
    * [[ngramJaccardPairs]] (a qualifying pair shares ≥ 1 shingle for
    * any positive threshold), same row-level pair-count verification,
    * and the SAME restricted-input skew contract — run on
    * restricted/sampled corpora, or df-cap the shingles first.
    *
    * @return (id_a, id_b, cont_a_in_b, cont_b_in_a) with id_a < id_b,
    *         emitted when EITHER direction ≥ `threshold` */
  def ngramContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8
  ): DataFrame = {
    require(threshold > 0.0, "threshold must be > 0 (shared-shingle candidate index is complete only for positive thresholds)")
    val hs = Materialize(shingleHashes30(df, idCol, textCol, shingleLen))
    val ex = hs.select(col("id"), explode(col("hs")).as("h"))
    val sizes = hs.select(col("id"), size(col("hs")).as("n"))
    val pairCounts = ex.as("a")
      .join(ex.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("ni"))
    pairCounts
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("ni").cast("double") / col("na").cast("double")).as("cont_a_in_b"),
        (col("ni").cast("double") / col("nb").cast("double")).as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
  }

  /** Recall/precision report of the MinHash-LSH tier against the exact
    * n-gram Jaccard ground truth on the same corpus and threshold — the
    * measurement that justifies a (k, bands) choice before a 100 TB
    * run. Both tiers verify with exact Jaccard over the SAME 30-bit
    * shingle sets, so LSH pairs ⊆ exact pairs by construction:
    * precision is structurally 1.0 (the report asserts it end-to-end)
    * and the informative number is RECALL — the pairs the banding never
    * surfaced as candidates (P(candidate) = 1-(1-j^(k/b))^b).
    *
    * Run on a restricted/sampled corpus (the exact side carries
    * [[ngramJaccardPairs]]'s skew contract); the measured recall
    * transfers to the full corpus because banding probability depends
    * only on pair Jaccard, not corpus size.
    *
    * @return one row: (n_exact, n_lsh, n_both, recall, precision) */
  def lshRecallReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.6
  ): DataFrame = {
    // ONE shingle pass feeds both tiers (each would otherwise
    // materialize its own identical copy of the dominant map cost)
    val hs = Materialize(shingleHashes30(df, idCol, textCol, shingleLen))
    val exact = ngramJaccardPairsFromHs(hs, threshold).select("id_a", "id_b")
    val lsh = minhashLshPairsFromHs(hs, k, bands, threshold).select("id_a", "id_b")
    val nE = exact.agg(count(lit(1)).as("n_exact"))
    val nL = lsh.agg(count(lit(1)).as("n_lsh"))
    val nB = exact.join(lsh, Seq("id_a", "id_b")).agg(count(lit(1)).as("n_both"))
    nE.crossJoin(nL).crossJoin(nB)
      .select(col("n_exact"), col("n_lsh"), col("n_both"),
        // tie-proof, overflow-proof half-up at 9 dp (see ratioScaled)
        (expr(ratioScaled("n_both", "greatest(n_exact, 1)", 1000000000L))
          .cast("double") / lit(1e9)).as("recall"),
        (expr(ratioScaled("n_both", "greatest(n_lsh, 1)", 1000000000L))
          .cast("double") / lit(1e9)).as("precision"))
  }

  /** [[ngramJaccardPairs]] with a DOCUMENT-FREQUENCY CAP on shingles —
    * the unrestricted-input variant of the exact tier. The k² skew of
    * the inverted-index join comes entirely from viral shingles (a
    * boilerplate phrase in k docs contributes k² candidate rows);
    * dropping shingles with df > `maxDf` bounds every posting list, so
    * candidate volume is ≤ Σ_h df(h)²  ≤ |rows|·maxDf — linear in the
    * corpus for fixed maxDf (the stop-shingle move of the similarity-
    * join literature, the df-analogue of Bayardo et al.'s frequency-
    * ordered prefix filtering).
    *
    * Semantics change accordingly: `jaccard` is computed over the
    * CAPPED shingle sets (hot boilerplate no longer counts as
    * similarity — usually the desired behavior for dedup); a document
    * whose every shingle is hot drops out entirely. Verification is
    * row-level (pair-count aggregate over the capped posting lists)
    * rather than array intersection — the at-scale shape: no shingle
    * arrays are ever joined or broadcast.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, capped-set
    *         Jaccard ≥ threshold */
  def ngramJaccardPairsCapped(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.5,
      maxDf: Int = 64
  ): DataFrame = {
    require(threshold > 0.0, "threshold must be > 0 (shared-shingle candidate index is complete only for positive thresholds)")
    require(maxDf >= 2, s"maxDf must be >= 2 (a df-1 shingle can never produce a pair), got $maxDf")
    val ex = Materialize(shingleHashRows(df, idCol, textCol, shingleLen)
      .select(col("id"), col("h")).distinct())
    val dfc = ex.groupBy("h").agg(count(lit(1)).as("dfh"))
    val keep = Materialize(ex.join(dfc.filter(col("dfh") <= maxDf).select("h"), Seq("h")))
    val sizes = keep.groupBy("id").agg(count(lit(1)).as("n"))
    val pairCounts = keep.as("a")
      .join(keep.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("ni"))
    pairCounts
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[ngramJaccardPairs]] with PREFIX FILTERING (Chaudhuri et al.,
    * SSJoin, ICDE'06; Bayardo et al., WWW'07; Xiao et al.'s PPJoin
    * family) — the exact-result-at-scale variant of the exact tier,
    * complementing [[ngramJaccardPairsCapped]]'s changed-semantics cap:
    * identical output to the complete inverted-index join, candidate
    * volume collapsed by indexing only each document's RAREST shingles.
    *
    * Sort every document's distinct shingles in ONE canonical global
    * order (ascending document frequency, ties by hash) and index only
    * the first p = n − ⌈t·n⌉ + 1 of them. Completeness: a qualifying
    * pair (Jaccard ≥ t) has |A∩B| ≥ ⌈t·|A|⌉, and A's suffix holds only
    * ⌈t·|A|⌉ − 1 shingles, so the FIRST shared shingle in canonical
    * order sits inside BOTH prefixes — the prefix-to-prefix equi-join
    * finds every qualifying pair. Verification computes exact Jaccard
    * over the full arrays for the (deduped) candidates only.
    *
    * Scale: hot boilerplate shingles have the LARGEST df, so the
    * rarity-first order pushes them out of every prefix — the k²
    * posting-list blowup of the complete index never materializes, and
    * at t = 0.5 each document indexes about half its shingles, the
    * rare half. The df relation itself is one map-combinable groupBy.
    * Unlike the capped variant nothing is dropped from the VERIFIED
    * sets, so scores and pairs match [[ngramJaccardPairs]] exactly —
    * which is what the gate pins by sharing its oracle verbatim.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, Jaccard ≥ threshold
    */
  def ngramJaccardPrefixPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.5
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold (prefix length n - ceil(t*n) + 1 needs t > 0)")
    val hs = Materialize(shingleHashes30(df, idCol, textCol, shingleLen))
    val ex = hs.select(col("id"), explode(col("hs")).as("h"))
    val dfc = ex.groupBy("h").agg(count(lit(1)).as("dfh"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("dfh", "h")
    val prefix = ex.join(dfc, Seq("h"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
      .withColumn("rn", row_number().over(wDoc))
      // ceil over the RAW double product can round up past the true
      // ⌈t·n⌉ when t's binary representation puts t·n a hair above an
      // exact integer (e.g. t = 0.07, n = 100 → 7.000000000000001 →
      // ceil 8), shortening the prefix and silently missing pairs.
      // Snapping the product to a 1e-9 grid first restores the exact
      // rational bound for any threshold written with ≤ 9 decimals.
      .filter(col("rn") <=
        col("n") - ceil(round(lit(threshold) * col("n"), 9)) + lit(1))
      .select("id", "h")
    val cands = prefix.as("a")
      .join(prefix.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cands
      .join(hs.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(hs.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("ni"),
        size(col("hs_a")).cast("long").as("na"), size(col("hs_b")).cast("long").as("nb"))
      .select(col("id_a"), col("id_b"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Longest shared token run between document pairs — the substring-
    * granularity dedup signal (the k-gram approximation of the exact
    * suffix-array method of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22): a pair sharing a verbatim
    * run of ≥ `minRunTokens` tokens is flagged even when whole-document
    * Jaccard is low (a boilerplate header, a quoted paragraph).
    *
    * Shape: positional shingle hashes (codegen'd relational builder) →
    * inverted-index equi-join on the hash (complete: a shared m-token
    * run, m ≥ shingleLen, shares m−shingleLen+1 consecutive shingles)
    * → shared-diagonal islands: within one (pair, posA−posB) diagonal,
    * consecutive positions form one run, isolated with the classic
    * gaps-and-islands `pos − row_number()` trick — runs are measured
    * with one windowed count, never string comparison. Run length in
    * tokens = consecutive shared shingles + shingleLen − 1.
    *
    * Skew contract matches [[ngramJaccardPairs]]: a shingle shared by k
    * documents contributes k² join rows, so this exact tier runs on
    * restricted/pre-deduped inputs; the probabilistic tiers are the
    * unrestricted path.
    *
    * @return (id_a, id_b, max_run_tokens) with id_a < id_b, one row per
    *         pair whose longest shared run reaches `minRunTokens`.
    */
  def commonSpanPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      minRunTokens: Int = 20
  ): DataFrame = {
    require(minRunTokens >= shingleLen,
      s"minRunTokens ($minRunTokens) must be >= shingleLen ($shingleLen) — shorter runs share no shingle")
    val hs = Materialize(shingleHashRows(df, idCol, textCol, shingleLen)
      .select(col("id"), col("pos"), col("h")))
    val matches = hs.as("a")
      .join(hs.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "d").orderBy("pa")
    matches
      .withColumn("isl", col("pa") - row_number().over(w))
      .groupBy("id_a", "id_b", "d", "isl").agg(count(lit(1)).as("run"))
      .groupBy("id_a", "id_b")
      .agg((max(col("run")) + lit(shingleLen - 1)).as("max_run_tokens"))
      .filter(col("max_run_tokens") >= minRunTokens)
  }

  /** ExactSubstr removal SPANS — the Lee et al. ACL'22 §4.1 substring
    * dedup, corpus-wide and EXACT via the L-gram anchor equivalence: a
    * token position lies inside some substring of ≥ `minTokens` tokens
    * that occurs ≥ 2 times anywhere in the corpus (another document OR
    * another offset of the same one) iff it is covered by an L-gram
    * (L = minTokens) whose hash occurs ≥ 2 times. (⇐ an L-gram IS such
    * a substring; ⇒ any ≥ L-token duplicated span contains, around any
    * of its positions, a full L-gram that is itself duplicated.) So the
    * union of duplicated-anchor extents [pos, pos+L-1], merged per doc,
    * is exactly the removable set — no suffix array needed.
    *
    * Shape (100 TB): one map-only shingle pass ([[graft.plans.ShingleHash60]],
    * no shingle strings materialized) → slim (h, count) aggregate with
    * map-side combine (a boilerplate gram collapses per partition
    * before the shuffle) → `left_semi` back on the hash (AQE splits hot
    * hashes) → per-doc interval merge. The merge needs no running max:
    * every extent has the same length L, so ends are monotone in
    * starts and a single `lag` decides island breaks
    * (`pos - prev > L` ⇔ disjoint-and-non-adjacent). Window partitions
    * by doc id — bounded by tokens-per-doc, never corpus-sized.
    *
    * @return (id, span_start, span_end, span_tokens): token-index
    *         removal spans, closed bounds, only docs with ≥ 1 span. */
  def exactSubstrSpans(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 50): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    val grams = Materialize(shingleHashRows(df, idCol, textCol, minTokens))
    val dup = grams.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    grams.join(dup, Seq("h"), "left_semi")
      .select("id", "pos")
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > minTokens, 1L).otherwise(0L))
      .withColumn("isl", sum("brk").over(w))
      .groupBy("id", "isl")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(minTokens - 1)).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** ExactSubstr REWRITE: drops every token covered by an
    * [[exactSubstrSpans]] removal span and rejoins the survivors —
    * the corpus-cardinality-preserving form of Lee et al.'s ExactSubstr
    * (every doc survives, possibly emptied; unlike the doc-granular
    * survivor tiers). Spans collapse to one small array per affected
    * doc (a doc's span count is bounded by its token count / L), so the
    * rebuild is a doc-level equi-join plus a map-side indexed `filter`
    * over the token array — the token relation is never exploded.
    *
    * @return (id, n_tokens, n_removed, text_clean) for EVERY input doc. */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 50): DataFrame = {
    val spanArr = exactSubstrSpans(df, idCol, textCol, minTokens)
      .groupBy("id")
      .agg(array_sort(collect_list(
        struct(col("span_start"), col("span_end")))).as("spans"))
    df.select(col(idCol).as("id"), words(col(textCol)).as("ws"))
      .join(spanArr, Seq("id"), "left")
      .select(col("id"),
        size(col("ws")).cast("long").as("n_tokens"),
        coalesce(aggregate(col("spans"), lit(0L),
          (acc, s) => acc + s.getField("span_end") - s.getField("span_start") + 1),
          lit(0L)).as("n_removed"),
        array_join(
          when(col("spans").isNull, col("ws")).otherwise(
            filter(col("ws"), (_, i) => !exists(col("spans"), s =>
              i >= s.getField("span_start") && i <= s.getField("span_end")))),
          " ").as("text_clean"))
  }

  /** Per-document NOVELTY score — the memorization-risk diagnostic on
    * top of the ExactSubstr anchor relation: of a doc's L-gram anchors,
    * how many also occur elsewhere in the corpus (another doc or
    * another offset of this one)? `novelty_micro` =
    * 1e6 − round(1e6 · dup/total) in exact integer arithmetic
    * ([[graft.functions.TextFunctions]] half-up fixed-point ratio), so
    * a doc stitched together from corpus boilerplate scores near 0 and
    * fully original text scores 1e6. The OCCURRENCE count for an
    * anchor-in-this-doc is (global occurrences of its hash) − 1 ≥ 1 —
    * i.e. count ≥ 2 marks it duplicated, same anchor rule as
    * [[exactSubstrSpans]], so the two relations always agree on what
    * "duplicated" means.
    *
    * Shape: the shingle pass + slim (h, count ≥ 2) aggregate of
    * [[exactSubstrSpans]], then ONE left-semi-marked regroup per doc —
    * no window, no interval machinery. Docs with < L tokens have no
    * anchors: they emit (0, 0, 1e6) via the left-join+coalesce
    * contract (nothing measurable was repeated).
    *
    * @return (id, n_grams, n_dup_grams, novelty_micro) for EVERY doc. */
  def noveltyScore(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 50): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    val grams = Materialize(shingleHashRows(df, idCol, textCol, minTokens))
    val dup = grams.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val perDoc = grams
      .join(dup.withColumn("isdup", lit(1L)), Seq("h"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum("isdup"), lit(0L)).as("n_dup_grams"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("novelty_micro", lit(1000000L) -
        expr(graft.functions.TextFunctions.ratioScaled(
          "n_dup_grams", "greatest(n_grams, 1)", 1000000L)))
  }

  /** Corpus-wide exact line deduplication — the RefinedWeb / MassiveText
    * repetition-removal stage (Penedo et al., arXiv 2306.01116 §3.3):
    * every nonempty trimmed line keeps its FIRST corpus occurrence
    * (minimum (id, pos)) and every later occurrence is deleted from its
    * document. Documents always survive, possibly emptied — the output
    * is a same-cardinality rewrite of the corpus, unlike the
    * doc-granular survivor relations.
    *
    * Shape: one posexplode → slim per-hash `min(struct(id, pos))`
    * aggregate (map-side combinable: a viral boilerplate line collapses
    * to ONE row per map partition before the shuffle, where a
    * `row_number` window would instead sort every occurrence of the hot
    * hash in a single task) → equi-join back on the hash (AQE splits
    * any residual hot key) → per-doc regroup. Line text crosses the
    * wire twice (join input + regroup); the winner relation is 28-byte
    * rows.
    *
    * @return (id, text_clean, n_lines, n_dupes_removed) for EVERY input
    *         doc — null or line-less text yields ('', 0, 0) via the
    *         oracle's left-join+coalesce contract */
  def lineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the explode+md5 pass feeds both the winner aggregate and the
    // rebuild join — materialized so the corpus is line-split and
    // hashed ONCE (the shingleHashes30/lmScore precedent)
    val lineRows = Materialize(df.select(col(idCol).as("id"),
        posexplode(lines(col(textCol))))
      .select(col("id"), col("pos"), col("col").as("line"), md5(col("col")).as("h")))
    val winners = lineRows.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("w"))
    val rebuilt = lineRows.join(winners, Seq("h"))
      .select(col("id"), col("pos"), col("line"),
        (col("w.id") === col("id") && col("w.pos") === col("pos")).as("keep"))
      .groupBy("id").agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), lit(0L)).otherwise(lit(1L))).as("n_dupes_removed"),
        // collect_list skips nulls, so the when() keeps survivors only;
        // pos is unique per id — the struct sort is a stable pos sort
        array_join(transform(
          array_sort(collect_list(when(col("keep"), struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n").as("text_clean"))
    df.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_dupes_removed"), lit(0L)).as("n_dupes_removed"))
  }

  /** WITHIN-document line dedup (the MassiveText/Gopher "remove
    * duplicated lines within a document" repetition rule, Rae et al.
    * arXiv 2112.11446 §A1.2 — distinct from [[lineDedup]]'s
    * corpus-wide first-occurrence rule): keep each trimmed nonempty
    * line's FIRST occurrence inside its own document.
    *
    * Entirely MAP-ONLY: a per-row prefix-scan filter over the lines
    * array — no explode, no shuffle, no join — so it composes with the
    * other map-only cleaners ([[TextAnalysis.c4Clean]], redaction,
    * sampling) into a single stage and plans unchanged on streaming
    * frames. The prefix scan is O(L²) line compares per document; for
    * web documents (L in the hundreds) that beats shipping every line
    * through a shuffle, and a corpus whose documents are pathologically
    * line-heavy should use the relational [[lineDedup]] (restricted to
    * PARTITION BY id) instead — the documented trade.
    *
    * Same output contract as [[lineDedup]]:
    * (id, text_clean, n_lines, n_dupes_removed); null/line-less text
    * yields ('', 0, 0).
    *
    * `maxLinesPerDoc` bounds the O(L²) prefix scan: a doc with more
    * lines passes through UNCHANGED (n_dupes_removed = 0) instead of
    * pinning one task — at 100 TB a single pathological million-line
    * document must not stall a core for hours. CASE short-circuits, so
    * over-limit docs never evaluate the quadratic filter. Corpora where
    * such docs matter should run the shuffled [[lineDedup]] (restricted
    * to PARTITION BY id) on the over-limit slice. */
  def intraDocLineDedup(df: DataFrame, idCol: String, textCol: String,
      maxLinesPerDoc: Int = 10000): DataFrame = {
    val empty = array().cast("array<string>")
    df.select(col(idCol).as("id"), coalesce(lines(col(textCol)), empty).as("ls"))
      .select(col("id"), col("ls"),
        when(size(col("ls")) > maxLinesPerDoc, col("ls"))
          .otherwise(filter(col("ls"), (l, i) =>
            array_position(slice(col("ls"), lit(1), i), l) === 0L)).as("kept"))
      .select(col("id"),
        array_join(col("kept"), "\n").as("text_clean"),
        size(col("ls")).cast("long").as("n_lines"),
        (size(col("ls")) - size(col("kept"))).cast("long").as("n_dupes_removed"))
  }

  /** DuckDB twin of [[intraDocLineDedup]] over `input` (id, text).
    * DuckDB's lambda index is 1-based (Spark: 0-based), so the strict
    * prefix is `ls[1:i-1]` vs Spark's `slice(ls, 1, i)`; both engines'
    * position lookup returns 0 on a miss. */
  def intraDocLineDedupSql(input: String, maxLinesPerDoc: Int = 10000): String =
    s"""SELECT id,
      coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
      coalesce(len(ls), 0) AS n_lines,
      coalesce(len(ls) - len(kept), 0) AS n_dupes_removed
    FROM (SELECT id, ls,
            CASE WHEN len(ls) > $maxLinesPerDoc THEN ls
                 ELSE list_filter(ls, (l, i) -> list_position(ls[1:i-1], l) = 0)
            END AS kept
          FROM (SELECT id, ${linesSql("text")} AS ls FROM ($input)))"""

  /** DuckDB twin of [[lineDedup]] over `input` (id, text) — a full
    * SELECT with the same four columns. The oracle may use the
    * `row_number` formulation (single-node: no skew concern); rn = 1
    * is exactly the min-(id, pos) winner. */
  def lineDedupSql(input: String): String =
    s"""WITH lddoc AS (SELECT id, text FROM ($input)),
      ldl AS (SELECT id, ${linesSql("text")} AS ls FROM lddoc),
      ldx AS (SELECT id, unnest(generate_series(1, len(ls))) - 1 AS pos, unnest(ls) AS line
              FROM ldl),
      ldm AS (SELECT id, pos, line,
                row_number() OVER (PARTITION BY md5(line) ORDER BY id, pos) AS rn
              FROM ldx),
      ldr AS (SELECT id, CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dupes_removed,
                coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos), '') AS text_clean
              FROM ldm GROUP BY id)
    SELECT d.id, coalesce(r.text_clean, '') AS text_clean,
      coalesce(r.n_lines, 0) AS n_lines,
      coalesce(r.n_dupes_removed, 0) AS n_dupes_removed
    FROM lddoc d LEFT JOIN ldr r ON d.id = r.id"""

  /** Content-defined chunking ([[graft.plans.CdcBoundaries]] — the
    * FastCDC/rsync primitive): split each document at positions where
    * a rolling window hash lands on the mask, so an insertion shifts
    * only the chunk it touches and every untouched chunk keeps its
    * hash — the unit of incremental corpus dedup and delta storage.
    * Map-only up to the explode; one native codegen'd boundary scan
    * per document, chunks tile the text exactly.
    *
    * @return (id, chunk_no, start [code points, 0-based], len,
    *         chunk_md5) */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, maskBits: Int = 6): DataFrame = {
    val b = df.select(col(idCol).as("id"), col(textCol).as("__t"),
      graft.plans.CdcBoundaries(col(textCol), w, maskBits).as("ends"))
    b.filter(size(col("ends")) > 0) // empty text -> no chunks, not a null row
      .select(col("id"), col("__t"),
        posexplode(arrays_zip(
          concat(array(lit(0)), expr("slice(ends, 1, greatest(size(ends) - 1, 0))")).as("s"),
          col("ends").as("e"))))
      .select(col("id"), col("pos").as("chunk_no"),
        col("col.s").as("start"), (col("col.e") - col("col.s")).as("len"),
        md5(expr("substring(__t, col.s + 1, col.e - col.s)")).as("chunk_md5"))
  }

  /** DuckDB twin of [[cdcChunks]] over `input` (id, text): the same
    * per-position Horner fold mod 2^40, mask rule, and final-boundary
    * tiling. O(len * w) lambda work per document — the oracle replays
    * the O(len) rolling kernel's exact polynomial. */
  def cdcChunksSql(input: String, w: Int, maskBits: Int): String = {
    val mask = (1L << maskBits) - 1
    s"""WITH cdcd AS (SELECT id, text FROM ($input)),
      cdcpos AS (SELECT id, text, length(text) AS n,
          unnest(generate_series($w, length(text))) AS p FROM cdcd),
      cdch AS (SELECT id, p, n,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(generate_series(p - $w + 1, p),
                i -> CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT))),
            (a, c) -> (a * 263 + c) % 1099511627776) AS hv
        FROM cdcpos),
      cdcb AS (
        SELECT DISTINCT id, p FROM (
          SELECT id, p FROM cdch WHERE hv % ${mask + 1} = 0 AND p < n
          UNION ALL SELECT id, length(text) AS p FROM cdcd WHERE length(text) >= 1)),
      cdcc AS (SELECT id, p AS e,
          COALESCE(lag(p) OVER (PARTITION BY id ORDER BY p), 0) AS s
        FROM cdcb)
    SELECT id, CAST(row_number() OVER (PARTITION BY id ORDER BY c.s) - 1 AS INT) AS chunk_no,
      CAST(c.s AS INT) AS start, CAST(c.e - c.s AS INT) AS len,
      md5(substring(d.text, CAST(c.s + 1 AS INT), CAST(c.e - c.s AS INT))) AS chunk_md5
    FROM cdcc c JOIN cdcd d USING (id)"""
  }
}
