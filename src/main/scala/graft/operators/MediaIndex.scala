package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.canonicalHex64

/** Persisted PDQ-hash index + incremental classify for media archives —
  * the daily-ingest form of the reference's Hamming-radius join
  * (`pdq_hash.py:76-257`): the archived corpus is decoded and hashed
  * ONCE ([[Media.pdqHashes]]), and each new batch hashes only ITSELF and
  * classifies against the read index as exact / near / novel.
  *
  * The index is ONE relation, `hashes (id, pdq_hex)` in canonical
  * 64-char lowercase hex, plus a manifest written LAST as the commit
  * marker (shared with [[Dedup.writeIndex]]) that pins the radius.
  * Blocking keys are a pure function of the hash, so none persist:
  * [[classify]] hands distinct batch and corpus hashes to
  * [[PdqDuplicates.hashJoin]] under Auto — the equi-join at radius 0,
  * else the broadcast kernel over the packed batch when Auto's cost tests
  * pass, else the band join with bands derived from both sides; never a
  * product. The winner is a combinable `min(struct)`. Indexes written
  * with a `bands/` relation read unchanged; the next write drops it.
  */
object MediaIndex {

  final case class Params(radius: Int)

  /** hashes = (id, pdq_hex). */
  final case class Index(hashes: DataFrame, params: Params)

  private val ManifestFile = "_GRAFT_MEDIA_INDEX_MANIFEST"

  /** (id, canonical hex) rows: null hashes drop, and a hash that is not
    * 1 to 64 hex digits fails the query naming its id — the kernel and
    * the joins compare canonical 64-char hex only. */
  private def canonicalHashes(df: DataFrame, idCol: String, hexCol: String,
      idName: String, hexName: String): DataFrame = {
    val id = col(idCol).cast("long")
    val hex = col(hexCol)
    val wellFormed = length(hex).between(1, 64) && !hex.rlike("[^0-9a-fA-F]")
    df.filter(hex.isNotNull).select(id.as(idName),
      when(wellFormed, canonicalHex64(hex)).otherwise(raise_error(concat(
        lit("media index: PDQ hash of id "), id.cast("string"),
        lit(" is not 1 to 64 hex digits: "), hex))).as(hexName))
  }

  /** The index relation of a hashed corpus. `radius` is the largest
    * Hamming distance classify will surface. */
  def build(hashes: DataFrame, idCol: String, hexCol: String, radius: Int): Index = {
    require(radius >= 0 && radius <= 63, s"radius must be in [0, 63], got $radius")
    Index(canonicalHashes(hashes, idCol, hexCol, "id", "pdq_hex"), Params(radius))
  }

  private def fs(df: DataFrame, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(df.sparkSession.sessionState.newHadoopConf()), p)
  }

  private def readManifest(hfs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[Params] =
    if (!hfs.exists(p)) None
    else {
      val in = hfs.open(p)
      try {
        val props = new java.util.Properties()
        props.load(in)
        Some(Params(props.getProperty("radius").toInt))
      } finally in.close()
    }

  /** Persist the hash relation, manifest LAST (commit marker — an
    * interrupted write must never serve a partial relation, which would
    * silently classify near-duplicates as novel). Append admits a new
    * day's hashes onto a COMMITTED index with identical params only. */
  def writeIndex(index: Index, path: String,
      mode: org.apache.spark.sql.SaveMode = org.apache.spark.sql.SaveMode.ErrorIfExists): Unit = {
    val (hfs, mPath) = fs(index.hashes, s"$path/$ManifestFile")
    val existing = readManifest(hfs, mPath)
    if (mode == org.apache.spark.sql.SaveMode.Append) {
      val prior = existing.getOrElse(throw new IllegalStateException(
        s"cannot append: no committed media index manifest at $path — write with Overwrite instead"))
      require(prior == index.params,
        s"cannot append a ${index.params} index onto one built with $prior at $path")
    }
    if (existing.isDefined) hfs.delete(mPath, false)
    index.hashes.write.mode(mode).parquet(s"$path/hashes")
    // the band relation of the earlier layout; nothing reads it
    hfs.delete(new org.apache.hadoop.fs.Path(s"$path/bands"), true)
    val out = hfs.create(mPath, true)
    try out.write(s"radius=${index.params.radius}\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a committed index; fails fast without the marker. */
  def readIndex(spark: SparkSession, path: String): Index = {
    val (hfs, mPath) = fs(spark.emptyDataFrame, s"$path/$ManifestFile")
    val params = readManifest(hfs, mPath).getOrElse(throw new IllegalStateException(
      s"no media index manifest at $path — not a graft media index, or an interrupted writeIndex left it incomplete"))
    Index(spark.read.parquet(s"$path/hashes"), params)
  }

  /** Compact a many-append index into a fresh index at `dstPath` — the
    * small-files counterweight to the Append flow (daily ingests
    * accrete a file batch each). Rows copy VERBATIM, so [[classify]]
    * over the compacted index is bit-identical to the source. Hashes
    * land in `numFiles` files. Manifest commits last, identical params;
    * the source index stays read-only — compact-then-swap is the
    * caller's move. */
  def compactIndex(spark: SparkSession, srcPath: String, dstPath: String,
      numFiles: Int = 1): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val idx = readIndex(spark, srcPath)
    writeIndex(Index(idx.hashes.repartition(numFiles), idx.params), dstPath)
  }

  /** Classify a hashed batch against the index:
    * (id, status exact|near|novel, best_match, best_dist) — best match
    * = smallest (distance, corpus id) within the radius; novel rows
    * carry nulls. Rows with a null hash drop. The corpus side touches
    * ONLY the persisted hash relation. */
  def classify(index: Index, batchHashes: DataFrame, idCol: String, hexCol: String): DataFrame = {
    val batch = canonicalHashes(batchHashes, idCol, hexCol, "bid", "bhex")
    val corpus = canonicalHashes(index.hashes, "id", "pdq_hex", "cid", "chash")
    val matches = PdqDuplicates.hashJoin(
      batch.select(col("bhex").as("phash")).distinct(),
      corpus.select(col("chash")).distinct(),
      index.params.radius, PdqDuplicates.Strategy.Auto)
    val best = matches
      .join(corpus, Seq("chash"))
      .groupBy(col("phash").as("bhex"))
      .agg(min(struct(col("dist"), col("cid"))).as("w"))
      .select(col("bhex"), col("w.cid").as("best_match"), col("w.dist").cast("long").as("best_dist"))
    batch.join(best, Seq("bhex"), "left")
      .select(col("bid").as("id"),
        when(col("best_dist") === 0, lit("exact"))
          .when(col("best_dist").isNotNull, lit("near"))
          .otherwise(lit("novel")).as("status"),
        col("best_match"), col("best_dist"))
  }
}
