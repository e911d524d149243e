package perfbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, UrlFunctions}
import graft.operators.{DetectDuplicates, MediaIndex, PdqDuplicates, UrlDuplicates}

/** Outcome of a run's output check. */
final case class Verdict(ok: Boolean, detail: String)

/** One benchmark workload: seeded inputs, the timed iteration, the
  * untimed layer probes of a traced run, and the output check.
  *
  * Inputs are lazy frames over `spark.range`, so their synthesis runs
  * inside every iteration like a scan would. Every synthesized hash is
  * salted by the seed; group structure is not, so output counts are the
  * same for every seed. */
trait Workload {
  def name: String
  /** Input rows one iteration processes, the base of `rows_per_s`. */
  def inputRows: Long
  /** Iteration spans whose wall time is `construct_s` (calls that run
    * eager jobs or build plans) and `execute_s` (sink executions). */
  def constructSpans: Set[String]
  def executeSpans: Set[String]
  def iterate(t: Tracer): Unit
  def probes(t: Tracer): Unit
  /** Runs the workload once more, outside timing, and compares its
    * output with an independent plain-JVM computation. */
  def verify(t: Tracer): Verdict
  /** Extra figures for the human-readable report. */
  def report(t: Tracer): Seq[(String, Double, String)] = Nil
}

object Workloads {
  val names: Seq[String] = Seq("detect_archive", "fuzzy_radius", "index_ingest")

  def apply(name: String, spark: SparkSession, seed: Long, workDir: String): Workload = name match {
    case "detect_archive" => new DetectArchive(spark, seed)
    case "fuzzy_radius"   => new FuzzyRadius(spark, seed)
    case "index_ingest"   => new IndexIngest(spark, seed, workDir)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }

  /** Executes a frame into the no-op sink: every column is computed,
    * nothing is collected or written. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  // ---- seeded generators, Spark side (their plain-JVM twins are in Gen) ----

  def indexCol(id: Column): Column = lpad(id.cast("string"), 8, "0")

  /** 64 hex chars: md5(salt + key) ++ md5(salt + key + "x"). */
  def hashCol(salt: String, key: Column): Column = {
    val k = concat(lit(salt), key.cast("string"))
    concat(md5(k), md5(concat(k, lit("x"))))
  }

  /** The same hash with its last nibble set to 0 (or 1 if it was 0):
    * Hamming distance 1 to 4. */
  def flipCol(h: Column): Column =
    concat(substring(h, 1, 63), when(substring(h, 64, 1) === "0", "1").otherwise("0"))

  /** Order-independent checksum of an edge relation
    * (index, [kind,] partner, similarity): (rows, url rows, s1, s2). */
  def edgeChecksum(edges: DataFrame): (Long, Long, Long, Long) = {
    val kind = if (edges.columns.contains("kind")) col("kind") else lit("pdq")
    val dist = coalesce(round((lit(1.0) - col("similarity")) * 256).cast("long"), lit(0L))
    val key = ((col("index").cast("long") * (1L << 20) + col("partner").cast("long")) * 512 + dist) * 2 +
      when(kind === "pdq", 1L).otherwise(0L)
    val k = pmod(key, lit(Gen.P))
    val r = edges.agg(count(lit(1)), sum(when(kind === "url", 1L).otherwise(0L)),
      sum(k), sum(pmod(k * k, lit(Gen.P)))).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (l(0), l(1), l(2), l(3))
  }

  def checkEdges(got: (Long, Long, Long, Long), want: Gen.Edges, pinned: Option[(Long, Long, Long, Long)]): Verdict = {
    val w = (want.n, want.nUrl, want.s1, want.s2)
    val pinOk = pinned.forall(_ == w)
    val detail = s"edges=${got._1} (url ${got._2}, pdq ${got._1 - got._2}); expected ${want.n} " +
      s"(url ${want.nUrl}); checksum ${if (got == w) "match" else s"MISMATCH got $got want $w"}" +
      pinned.map(p => s"; default-seed DuckDB checksum ${if (pinOk) "match" else s"MISMATCH $p"}").getOrElse("")
    Verdict(got == w && pinOk, detail)
  }
}

import Workloads._

/** The flagship call over an archive: every row has a URL (2 % of rows
  * per normalized URL group) and one PDQ hash (1 % of rows per hash
  * group, a one-nibble variant on every fifth row). URL normalization,
  * edge expansion and shuffle do the work; candidate generation is
  * trivial (few distinct hashes). */
final class DetectArchive(spark: SparkSession, seed: Long) extends Workload {
  val name = "detect_archive"
  val rows = 40000
  val urlGroups = 800
  val pdqGroups = 400
  val threshold = 0.98
  val inputRows: Long = rows.toLong
  val constructSpans = Set("operators.DetectDuplicates.edges.construct")
  val executeSpans = Set("operators.DetectDuplicates.edges.execute")

  private def frame: DataFrame = {
    val id = col("id")
    val u = id % urlGroups
    val host = concat(lit("shop-"), substring(md5(concat(lit(s"$seed/u/"), u.cast("string"))), 1, 10),
      lit(".example.com"))
    val url = concat(
      when(id % 3 === 0, "https://").when(id % 3 === 1, "http://").otherwise(""),
      when(id % 5 === 0, upper(host)).otherwise(host),
      lit("/item/"), u.cast("string"),
      when(id % 4 === 0, concat(lit("#sec"), id.cast("string"))).otherwise(""))
    val base = hashCol(s"$seed/p/", floor(id / (rows / pdqGroups)))
    val h = when(id % 5 === 0, flipCol(base)).otherwise(base)
    spark.range(0, rows, 1, spark.sparkContext.defaultParallelism)
      .select(indexCol(id).as("index"), url.as("url"), array(h).as("pdq_hash"))
  }

  private def call(t: Tracer): DataFrame =
    t.span("operators.DetectDuplicates.edges.construct") {
      DetectDuplicates.edges(frame, similarityThreshold = threshold, method = "auto", assumeFixed256 = true)
    }

  def iterate(t: Tracer): Unit = {
    val e = call(t)
    t.span("operators.DetectDuplicates.edges.execute")(noop(e))
  }

  def probes(t: Tracer): Unit = {
    val f = frame
    t.span("queries.input")(noop(f))
    t.span("functions.normalize_url")(noop(f.select(UrlFunctions.normalizeUrl(col("url")))))
    t.span("functions.canonical_hex")(
      noop(f.select(explode(col("pdq_hash")).as("h")).select(HashFunctions.canonicalHex64(col("h")))))
    t.span("operators.UrlDuplicates.edges")(noop(UrlDuplicates.edges(f.select("index", "url"))))
    val p = t.span("operators.PdqDuplicates.edges.construct")(
      PdqDuplicates.edges(f.select("index", "pdq_hash"), similarityThreshold = threshold,
        strategy = PdqDuplicates.Strategy.Auto, assumeFixed256 = true))
    t.span("operators.PdqDuplicates.edges.execute")(noop(p))
  }

  def verify(t: Tracer): Verdict = {
    val got = edgeChecksum(call(t))
    val want = Gen.detectArchiveEdges(seed, rows, urlGroups, pdqGroups, HashFunctions.absoluteThreshold(256, threshold))
    checkEdges(got, want, Pinned.detectArchive.get(seed))
  }
}

/** The reference's published benchmark point, scaled: distinct random
  * 256-bit hashes with a planted near pair every 997 ids, all pairs at
  * radius 51 with the naive method. Candidate generation and
  * verification do nearly all the work; output is near zero. */
final class FuzzyRadius(spark: SparkSession, seed: Long) extends Workload {
  val name = "fuzzy_radius"
  val hashes = 8000
  val threshold = 0.8
  val inputRows: Long = hashes.toLong
  val constructSpans = Set("operators.DetectDuplicates.edges.construct")
  val executeSpans = Set("operators.DetectDuplicates.edges.execute")

  private def frame: DataFrame = {
    val id = col("id")
    val salt = s"$seed/f/"
    val base = hashCol(salt, id)
    val h = when(id % 997 === 0, flipCol(base)).when(id % 997 === 1, hashCol(salt, id - 1)).otherwise(base)
    spark.range(0, hashes, 1, spark.sparkContext.defaultParallelism)
      .select(indexCol(id).as("index"), array(h).as("pdq_hash"))
  }

  private def call(t: Tracer): DataFrame =
    t.span("operators.DetectDuplicates.edges.construct") {
      DetectDuplicates.edges(frame, similarityThreshold = threshold, method = "naive", assumeFixed256 = true)
    }

  def iterate(t: Tracer): Unit = {
    val e = call(t)
    t.span("operators.DetectDuplicates.edges.execute")(noop(e))
  }

  def probes(t: Tracer): Unit = {
    val f = frame
    t.span("queries.input")(noop(f))
    t.span("functions.canonical_hex")(
      noop(f.select(explode(col("pdq_hash")).as("h")).select(HashFunctions.canonicalHex64(col("h")))))
    val p = t.span("operators.PdqDuplicates.edges.construct")(
      PdqDuplicates.edges(f, similarityThreshold = threshold,
        strategy = PdqDuplicates.Strategy.Naive, assumeFixed256 = true))
    t.span("operators.PdqDuplicates.edges.execute")(noop(p))
  }

  def verify(t: Tracer): Verdict = {
    val got = edgeChecksum(call(t))
    val want = Gen.fuzzyRadiusEdges(seed, hashes, HashFunctions.absoluteThreshold(256, threshold))
    checkEdges(got, want, Pinned.fuzzyRadius.get(seed))
  }

  override def report(t: Tracer): Seq[(String, Double, String)] = {
    val exec = t.spans.filter(_.name == "operators.PdqDuplicates.edges.execute").map(_.wallS)
    if (exec.isEmpty) Nil
    else Seq(("operators.PdqDuplicates.edges.execute.pairs_per_s",
      hashes.toDouble * hashes / Stats.median(exec.toSeq), "pairs/s"))
  }
}

/** Daily ingest against a persisted media index: build and write the
  * index of a hashed corpus at radius 31 (the PDQ match threshold),
  * then read it back and classify a batch of exact copies, one-nibble
  * variants and novel hashes. Both sides use the band-join layer. */
final class IndexIngest(spark: SparkSession, seed: Long, workDir: String) extends Workload {
  val name = "index_ingest"
  val corpus = 8000
  val batch = 300
  val radius = 31
  val inputRows: Long = (corpus + batch).toLong
  private val path = s"$workDir/media_index"
  val constructSpans = Set("operators.MediaIndex.build", "operators.MediaIndex.writeIndex",
    "operators.MediaIndex.readIndex", "operators.MediaIndex.classify.construct")
  val executeSpans = Set("operators.MediaIndex.classify.execute")

  private def corpusFrame: DataFrame =
    spark.range(0, corpus, 1, spark.sparkContext.defaultParallelism)
      .select(col("id"), hashCol(s"$seed/c/", col("id")).as("hex"))

  private def batchFrame: DataFrame = {
    val i = col("id")
    val copied = hashCol(s"$seed/c/", i * Gen.batchStride(corpus))
    spark.range(0, batch, 1, 1).select(i,
      when(i < 100, copied).when(i < 200, flipCol(copied)).otherwise(hashCol(s"$seed/n/", i)).as("hex"))
  }

  private def call(t: Tracer): DataFrame = {
    val index = t.span("operators.MediaIndex.build")(MediaIndex.build(corpusFrame, "id", "hex", radius))
    t.span("operators.MediaIndex.writeIndex")(MediaIndex.writeIndex(index, path, SaveMode.Overwrite))
    val read = t.span("operators.MediaIndex.readIndex")(MediaIndex.readIndex(spark, path))
    t.span("operators.MediaIndex.classify.construct")(MediaIndex.classify(read, batchFrame, "id", "hex"))
  }

  def iterate(t: Tracer): Unit = {
    val out = call(t)
    t.span("operators.MediaIndex.classify.execute")(noop(out))
  }

  def probes(t: Tracer): Unit = {
    t.span("queries.input") { noop(corpusFrame); noop(batchFrame) }
    t.span("functions.hex_bands")(
      noop(corpusFrame.select(explode(HashFunctions.hexBands(lower(col("hex")), radius + 1)))))
  }

  def verify(t: Tracer): Verdict = {
    val got = call(t).collect().map(r =>
      r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    val want = Gen.classify(seed, corpus, batch, radius)
    val counts = got.values.groupBy(_._1).map { case (k, v) => k -> v.size }
    val wrong = want.count { case (id, w) => !got.get(id).contains(w) }
    val pinned = Pinned.indexIngest.get(seed)
    val pinOk = pinned.forall(_ == Gen.classifyChecksum(want))
    Verdict(wrong == 0 && got.size == want.size && pinOk,
      s"classified ${got.size}: exact ${counts.getOrElse("exact", 0)}, near ${counts.getOrElse("near", 0)}, " +
        s"novel ${counts.getOrElse("novel", 0)}; $wrong rows differ from brute force" +
        pinned.map(_ => s"; default-seed DuckDB checksum ${if (pinOk) "match" else "MISMATCH"}").getOrElse(""))
  }

  override def report(t: Tracer): Seq[(String, Double, String)] = {
    val it = t.spans.filter(_.name == "iteration").toSeq
    def phase(names: Set[String]) = Stats.median(it.map(root =>
      t.subtree(root).filter(s => names(s.name)).map(_.wallS).sum))
    val bytes = Gen.dirBytes(new java.io.File(path))
    val joins = t.spans.filter(s => s.name == "operators.MediaIndex.classify.execute" && s.counters.contains("join_rows"))
    Seq(
      ("index_write_s", phase(Set("operators.MediaIndex.build", "operators.MediaIndex.writeIndex")), "s"),
      ("classify_s", phase(Set("operators.MediaIndex.readIndex", "operators.MediaIndex.classify.construct",
        "operators.MediaIndex.classify.execute")), "s"),
      ("index_bytes_per_hash", bytes.toDouble / corpus, "B")) ++
      (if (joins.isEmpty) Nil
       else Seq(("operators.MediaIndex.classify.execute.matched_per_join_row",
         200.0 / Stats.median(joins.map(_.get("join_rows")).toSeq), "ratio")))
  }
}
