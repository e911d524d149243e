package graft.operators

import graft.functions.HashFunctions._
import graft.plans.{HammingDistance, HammingKernelJoin, HammingRadiusBandJoin}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PDQ perceptual-hash fuzzy-duplicate detection.
  *
  * Reference: `cir_duplicate_detector/pdq_hash.py:76-257`
  * `find_pdq_hash_duplicates` + the two backends
  * (`naive_duplicate_detector.py`, `bk_tree.py`). Semantics:
  *
  *  1. explode `pdq_hash: array<string>` to (index, hash) rows
  *     (`pdq_hash.py:163`), dropping nulls (`:156-160`);
  *  2. drop literal (index, hash) duplicate pairs (`utils.py:55-87`) —
  *     not as a shuffle of its own: the per-pair dedupe of step 5 and
  *     of [[edges]] absorbs them;
  *  3. hex -> 256-bit domain (`utils.py:32-52`);
  *  4. similarity join: pairs with Hamming distance <= n where
  *     `n = rint(256 * (1 - threshold))` (`utils.py:19-29`), probes
  *     restricted to `indexesToCheck` (`pdq_hash.py:209-213`);
  *  5. bidirectional formatting (`pdq_hash.py:18-73`): every (src, dst)
  *     edge annotates BOTH endpoints — including partners outside the
  *     probe set — self-pairs dropped, per-pair dedupe, rows without any
  *     duplicate omitted, sorted by index.
  *
  * The reference's three backends (naive all-pairs / BK-tree / the
  * never-implemented "mih") are physical STRATEGIES with identical
  * results.
  *
  * Why the BK-tree itself (`bk_tree.py:22-97`) does not port: it is a
  * pointer-chasing metric index whose value lies in shared-memory
  * reuse — one mutable tree, built once, queried by every probe, with
  * triangle-inequality pruning deciding WHICH CHILD TO VISIT NEXT at
  * query time. That sequential, data-dependent traversal has no
  * distributed analogue: a tree per executor re-pays the O(corpus)
  * build per task (the reference's own README flags build time
  * dominating small probe sets), and shipping the traversal as a join
  * means materializing per-level frontiers — strictly worse than
  * banding. Pigeonhole banding ([[Strategy.Banded]]) delivers the same
  * candidate-pruning guarantee as a pure equi-join (shuffle hash join,
  * AQE-planned, skew-salvageable), which is why it is the distributed
  * metric-index equivalent here — parametrized tests prove naive ≡
  * banded on identical inputs. Here:
  *
  *  - [[Strategy.Naive]]: all pairs of distinct hashes — the semantic
  *    reference: the broadcast kernel ([[graft.plans.HammingKernelJoin]])
  *    while the distinct probes fit `spark.graft.kernelMaxCorpus`, else
  *    the band join.
  *  - [[Strategy.Banded]]: the multi-index-hashing idea the reference
  *    stubbed: pigeonhole banding. Split each 64-char hex hash into
  *    n+1 nibble-aligned bands; dist <= n implies at least one band is
  *    byte-identical, so a shuffle-hash equi-join on (band_id, band)
  *    yields a complete candidate set, verified by exact Hamming. This
  *    is the 100 TB path: no quadratic blowup, plain shuffles.
  *
  * Both strategies operate on DISTINCT canonical hash values and re-
  * attach indexes afterwards — exact-duplicate-heavy corpora (the
  * common case) collapse before the expensive join, which also defuses
  * banding skew from viral/black-frame hashes.
  *
  * Hashes longer than 64 hex chars (> 256 bits — tolerated by the
  * reference with pad-semantics Hamming, `tests/unit/test_pdq_hash.py:
  * 126-146`) are auto-detected and routed to a binary-string parity
  * path; the fixed-width fast path covers real PDQ data. Pass
  * `assumeFixed256 = true` to skip the detection scan at scale;
  * [[DetectDuplicates]] hands down the [[Facts]] its one pass over the
  * input observed, so it scans for none of them here.
  */
object PdqDuplicates {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  sealed trait Strategy
  object Strategy {

    /** All pairs on the broadcast kernel while the distinct probes fit
      * the kernel cap; past it the band join ([[hashJoin]]). */
    case object Naive extends Strategy
    case object Banded extends Strategy

    /** Cost-based choice of the kernel or the band join from DISTINCT
      * hash counts and the radius, as the reference's naive-vs-bktree
      * crossover (sim≈0.91) moves with the radius: see [[hashJoin]]. */
    case object Auto extends Strategy

    /** Auto's bound on pairs scanned by the kernel, and on band-key
      * candidates the band join may emit before it loses to the kernel. */
    val AutoNaiveMaxPairs: Long = 64L * 1000 * 1000

    /** Reference method-name dispatch (`pdq_hash.py:195-222`): "naive"
      * -> Naive; "bk-tree" and "mih" -> Banded (the metric-index
      * equivalents); anything else is an error. */
    def fromMethod(method: String): Strategy = method.toLowerCase match {
      case "naive"           => Naive
      case "bk-tree" | "mih" => Banded
      case "auto"            => Auto
      case other => throw new IllegalArgumentException(s"Unknown duplicate detection method: $other")
    }
  }

  val outputSchema: StructType = StructType(Seq(
    StructField("index", StringType),
    StructField("pdq_hash_duplicates", ArrayType(StringType)),
    StructField("pdq_hash_similarities", ArrayType(DoubleType))
  ))

  def emptyResult(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outputSchema)

  /** @param df (index: string, pdq_hash: array<string>); index unique.
    * @return (index, pdq_hash_duplicates: array<string>,
    *         pdq_hash_similarities: array<double>) sorted by index;
    *         duplicate arrays sorted ascending by partner index with
    *         similarities positionally aligned (SURVEY.md §7.6 policy).
    */
  def apply(
      df: DataFrame,
      indexesToCheck: Option[Seq[String]] = None,
      similarityThreshold: Double = 0.8,
      strategy: Strategy = Strategy.Naive,
      assumeFixed256: Boolean = false
  ): DataFrame =
    run(df, Checked.from(indexesToCheck), similarityThreshold, strategy, assumeFixed256)

  /** [[apply]] with the probe set as a DataFrame carrying an `index`
    * column (the reference accepts a Series of arbitrary size,
    * `pdq_hash.py:76-110`) — restriction happens as a left-semi join,
    * the plan shape that survives million-entry checked sets. */
  def checkedBy(
      df: DataFrame,
      checked: DataFrame,
      similarityThreshold: Double = 0.8,
      strategy: Strategy = Strategy.Naive,
      assumeFixed256: Boolean = false
  ): DataFrame =
    run(df, Checked.Frame(checked), similarityThreshold, strategy, assumeFixed256)

  /** Shared pipeline prefix of the array formatter and the flat edge
    * relation: validation, explode, canonicalization, probe
    * restriction, and the hash-level similarity join. `None` means an
    * empty-input short-circuit fired — callers emit their own empty
    * frame in their own output schema. */
  private final case class Prep(indexed: DataFrame, probeIdx: DataFrame, hashEdges: DataFrame)

  /** [[apply]]; `facts` are the input's [[Facts]] when the caller
    * already knows them, else a call that needs them scans for them
    * once. */
  private[operators] def run(
      df: DataFrame,
      checked: Checked,
      similarityThreshold: Double,
      strategy: Strategy,
      assumeFixed256: Boolean,
      facts: Option[Facts] = None
  ): DataFrame = {
    val spark = df.sparkSession
    lazy val known = facts.getOrElse(Facts(Facts.aggregate(df), None))
    prepare(df, checked, similarityThreshold, strategy, assumeFixed256, known, facts.flatMap(_.distinct)) match {
      case None => emptyResult(spark)
      case Some(Prep(indexed, probeIdx, hashEdges)) =>
        val result = if (checked == Checked.All) {
          // probe = corpus: edge set is symmetric by construction, so the
          // formatter can aggregate partner lists at HASH granularity (tiny:
          // one row per distinct hash) and expand to index rows map-side —
          // the quadratic per-index edge list never crosses a shuffle. This
          // is the 100 TB path: shuffle volume is O(|hashes| × avg partners
          // + |rows|), not O(Σ clique²).
          formatViaHashGroups(indexed, hashEdges)
        } else {
          // expand hash edges to index edges: src restricted to probes
          val edges = hashEdges
            .join(probeIdx.select(col("index").as("src"), col("chash").as("phash")), Seq("phash"))
            .join(indexed.select(col("index").as("dst"), col("chash")), Seq("chash"))
            .select("src", "dst", "dist")
          format(edges)
        }
        // `pdq_hash.py:237-255` "Found N rows with duplicates" twin
        result.observe(Telemetry.name("pdq_hash_result"), count(lit(1)).as("n_rows_with_duplicates"))
    }
  }

  /** Flat duplicate-edge relation `(index, partner, similarity)` — one
    * row per directed duplicate edge, min-distance per pair, self
    * excluded, both directions present (the reference's bidirectional
    * contract). The output shape that scales: no per-row partner
    * arrays quadratic in clique size, and downstream consumers join /
    * aggregate it relationally. Value-equivalent to exploding
    * [[apply]]'s arrays (asserted in the suite).
    *
    * The index must be unique. Literal (index, hash) pairs are not
    * deduped before the expansion joins, which stream the exploded
    * input as it is. With a unique index, only a row listing two or
    * more hashes (one hash twice, or two spellings of it) can repeat a
    * pair, and such input takes the `(src, dst)` min-dist aggregate,
    * where the dedupe happens; the single-hash path skips that
    * aggregate and relies on the unique index. [[apply]] dedupes in its
    * formatters. */
  def edges(
      df: DataFrame,
      indexesToCheck: Option[Seq[String]] = None,
      similarityThreshold: Double = 0.8,
      strategy: Strategy = Strategy.Naive,
      assumeFixed256: Boolean = false
  ): DataFrame =
    edgesOf(df, Checked.from(indexesToCheck), similarityThreshold, strategy, assumeFixed256)

  /** [[edges]]; `facts` as for [[run]]. */
  private[operators] def edgesOf(
      df: DataFrame,
      checked: Checked,
      similarityThreshold: Double,
      strategy: Strategy,
      assumeFixed256: Boolean,
      facts: Option[Facts] = None
  ): DataFrame = {
    val spark = df.sparkSession
    lazy val known = facts.getOrElse(Facts(Facts.aggregate(df), None))
    prepare(df, checked, similarityThreshold, strategy, assumeFixed256, known, facts.flatMap(_.distinct)) match {
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("index", StringType),
            StructField("partner", StringType), StructField("similarity", DoubleType))))
      case Some(Prep(indexed, probeIdx, hashEdges)) =>
        // expand hash-level edges to index pairs; for the probe-all case
        // hashEdges is symmetric already (kernel/θ/banding emit both
        // orders and self pairs), for the checked case mirror edges so
        // unchecked partners are annotated too (`pdq_hash.py:56-65`)
        val raw = hashEdges
          .join(probeIdx.select(col("index").as("src"), col("chash").as("phash")), Seq("phash"))
          .join(indexed.select(col("index").as("dst"), col("chash")), Seq("chash"))
          .select("src", "dst", "dist")
        // single-hash fast path: with probe = corpus, a unique index and
        // at most ONE hash per input row (the common PDQ contract — one
        // hash per image), every (src, dst) pair reaches `raw` through
        // exactly one (phash, chash) edge (hashEdges is distinct by
        // construction), so the pair-level min-dist dedupe is the
        // identity — and it is the ONLY place the O(Σ clique²) pair
        // relation crosses an exchange. The fact costs nothing under
        // DetectDuplicates, whose fact query observes it on the scan it
        // already makes; a direct call reads it from the one [[Facts]]
        // scan that also serves the fixed-width detection, a narrow pass
        // traded against a shuffle + hash aggregate of the full pair
        // expansion (6M rows at detect_full scale). Multi-hash inputs and
        // checked-subset probes (whose mirror union CAN duplicate pairs)
        // keep the aggregate.
        val (singleHash, why) =
          if (checked != Checked.All) (false, "checked probes")
          else (known.widest <= 1, s"max hashes per row ${known.widest}")
        log.info(s"PdqDuplicates.edges: ${if (singleHash) "single-hash" else "pair aggregate"} ($why)")
        val sym = if (checked == Checked.All) raw
          else raw.union(raw.select(col("dst").as("src"), col("src").as("dst"), col("dist")))
        val deduped =
          if (singleHash) sym.filter(col("src") =!= col("dst"))
          else sym
            .filter(col("src") =!= col("dst"))
            .groupBy("src", "dst")
            .agg(min("dist").as("dist"))
        deduped
          .select(col("src").as("index"), col("dst").as("partner"),
            similarity(col("dist")).as("similarity"))
    }
  }

  private def prepare(
      df: DataFrame,
      checked: Checked,
      similarityThreshold: Double,
      strategy: Strategy,
      assumeFixed256: Boolean,
      facts: => Facts,
      collected: Option[Array[String]]
  ): Option[Prep] = {
    validateThreshold(similarityThreshold)
    requireStringHashes(df)

    checked match {
      case Checked.Literals(seq) if seq.isEmpty =>
        // reference `pdq_hash.py:140-144` UserWarning twin
        Warnings.warn(log, "indexes_to_check is empty, no duplicates will be found.")
        return None
      case _ => ()
    }

    // step 1: explode. Spark's explode already drops nulls and empty
    // arrays (pandas explode emits a NaN row that the reference later
    // ignores — same effective relation). Step 2 has no shuffle of its
    // own (see [[edges]]): `indexed` stays a narrow map of the input, so
    // the expansion joins stream on the input's own partitions. A
    // dedupe shuffle here is small enough for AQE to coalesce into one
    // partition, which ran the whole expansion in a single task.
    // A4 telemetry twin (`pdq_hash.py:156-160` null-drop count,
    // `:237-255` result count): `observe` rides the existing jobs —
    // metrics surface via QueryExecutionListener, zero extra scans.
    val exploded = df
      .observe(Telemetry.name("pdq_hash_input"), count(lit(1)).as("n_rows"),
        sum(when(col("pdq_hash").isNull, 1).otherwise(0)).as("n_null_rows"))
      .filter(col("pdq_hash").isNotNull)
      .select(col("index"), explode(col("pdq_hash")).as("hash"))
      .filter(col("hash").isNotNull)

    // detection: fast path requires 1..64 hex chars AND a clean hex
    // charset — `conv(hex, 16, 10)` silently parses malformed input as 0,
    // which would fabricate distance-0 duplicates; malformed hashes are
    // routed to the parity UDF path, whose BigInteger parse throws like
    // the reference (`int(hex, 16)` ValueError). The facts come from the
    // caller or from a scan of their own. `assumeFixed256 = true` skips
    // both: malformed hex is then undefined behavior, the caller vouches
    // for canonical 64-char input.
    val fixedWidth = assumeFixed256 || {
      val f = facts
      f.lengths match {
        case None =>
          // no hashes at all — `pdq_hash.py:134-138` UserWarning twin (the
          // warn rides the detection; with assumeFixed256 the caller
          // opted out of any pre-scan, so the empty case stays silent and
          // simply yields the typed empty result)
          Warnings.warn(log, "The pdq hash series is empty, no duplicates will be found.")
          return None
        case Some((shortest, longest)) => shortest >= 1 && longest <= 64 && !f.nonHex
      }
    }

    val n = absoluteThreshold(PdqHashLength, similarityThreshold)

    // canonical hash value: fixed path = zero-padded lowercase hex64;
    // parity path = the reference's binary string (distinct hex
    // spellings of the same value collapse in both).
    val toBinUdf = udf(hexToBinaryString _)
    val indexed =
      if (fixedWidth) exploded.select(col("index"), canonicalHex64(col("hash")).as("chash"))
      else exploded.select(col("index"), toBinUdf(col("hash")).as("chash"))

    val corpusHashes = indexed.select("chash").distinct()
    val probeIdx = checked match {
      case Checked.All            => indexed
      case Checked.Literals(seq)  => indexed.filter(col("index").isin(seq: _*))
      case Checked.Frame(c)       => indexed.join(c.select("index"), Seq("index"), "left_semi")
    }
    val probeHashes = probeIdx.select(col("chash").as("phash")).distinct()

    // step 4: similarity join at hash level -> (phash, chash, dist)
    val hashEdges: DataFrame =
      if (!fixedWidth) {
        val hammingUdf = udf(hammingPadded _)
        probeHashes
          .crossJoin(corpusHashes)
          .withColumn("dist", hammingUdf(col("phash"), col("chash")))
          .filter(col("dist") <= n)
      } else if (checked == Checked.All)
        hashJoin(probeHashes, corpusHashes, n, strategy, probeAll = true, collected)
      else hashJoin(probeHashes, corpusHashes, n, strategy)

    Some(Prep(indexed, probeIdx, hashEdges))
  }

  /** P5 runtime twin of the reference's element-type validation
    * (`pdq_hash.py:165-173` raises ValueError on non-string hash
    * elements): Spark carries the element type in the schema, so the
    * check is a driver-side schema assertion, not a data scan. */
  private[operators] def requireStringHashes(df: DataFrame): Unit =
    df.schema("pdq_hash").dataType match {
      case ArrayType(StringType, _) => ()
      case other => throw new IllegalArgumentException(
        s"pdq_hash must be array<string> (every PDQ hash must be a string), got $other")
    }

  /** What one pass over an input's `pdq_hash` column tells the driver.
    *
    * @param widest   the most hashes on one row
    * @param lengths  the shortest and the longest hash; None when there
    *                 is no hash
    * @param nonHex   whether some hash has a character outside [0-9a-fA-F]
    * @param distinct for a probe-all call, the distinct canonical hashes
    *                 as [[hashJoin]]'s bounded collect returns them: all
    *                 of them when there are at most [[collectLimit]],
    *                 else more than that many. None when not collected. */
  private[operators] final case class Facts(
      widest: Int, lengths: Option[(Int, Int)], nonHex: Boolean, distinct: Option[Array[String]])

  private[operators] object Facts {

    /** `(pos, v)` over `(index, pdq_hash)` rows: each row's index at
      * position 0, then its hashes (nulls included) at 1, 2, …. One
      * generator yields both the keys of [[DetectDuplicates]]' fact query
      * and the rows [[columns]] aggregate. */
    def entries(df: DataFrame): DataFrame =
      df.select(posexplode(concat(array(col("index").cast("string")),
        coalesce(col("pdq_hash"), typedLit(Seq.empty[String])))).as(Seq("pos", "v")))

    /** The aggregates behind [[Facts]] over [[entries]]: the widest row
      * is the largest position, and a hash with a character left after
      * deleting the hex digits is not hex. Cheap enough to observe on a
      * pass made anyway: a lambda or a regex costs ~14 µs per row as an
      * observed metric (an `rlike` tripled the fact query's CPU). */
    val columns: Seq[Column] = {
      val hash = when(col("pos") > 0, col("v"))
      Seq(max(col("pos")), min(length(hash)), max(length(hash)),
        max(length(translate(hash, "0123456789abcdefABCDEF", "")) > 0))
    }

    /** The row of [[columns]] over `(index, pdq_hash)` rows, in a job of
      * its own. */
    def aggregate(df: DataFrame): Row = entries(df).agg(columns.head, columns.tail: _*).head()

    /** [[Facts]] from a row of [[columns]]. */
    def apply(row: Row, distinct: Option[Array[String]]): Facts =
      Facts(if (row.isNullAt(0)) 0 else row.getInt(0).max(0),
        if (row.isNullAt(2)) None else Some((row.getInt(1), row.getInt(2))),
        !row.isNullAt(3) && row.getBoolean(3), distinct)
  }

  /** Row-count estimate from the optimized plan's statistics — zero
    * Spark jobs. Uses Catalyst's row-count estimate when available
    * (CBO / AQE), else sizeInBytes divided by the schema's default row
    * width. */
  private def estimateRows(df: DataFrame): BigInt = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.getOrElse {
      val width = BigInt(df.schema.map(_.dataType.defaultSize).sum.max(1))
      stats.sizeInBytes / width
    }
  }

  /** Probe-all formatter: hash-level partner aggregation.
    *
    *  1. members(h) = sorted indexes carrying hash h;
    *  2. partners(h) = flatten over near hashes h' (incl. h itself,
    *     dist 0) of members(h') tagged with dist(h, h');
    *  3. each (index, h) row joins partners(h); per index the arrays
    *     merge, sort by (dst, dist), drop self, and dedupe per dst
    *     keeping the minimum distance (first after the sort).
    */
  private def formatViaHashGroups(indexed: DataFrame, hashEdges: DataFrame): DataFrame = {
    val members = indexed.groupBy(col("chash"))
      .agg(sort_array(collect_list(col("index"))).as("members"))

    val partnersPerHash = hashEdges
      .join(members.select(col("chash"), col("members").as("dst_members")), Seq("chash"))
      .groupBy(col("phash"))
      .agg(flatten(collect_list(
        expr("transform(dst_members, m -> struct(m AS dst, dist AS dist))"))).as("partners"))

    indexed
      .join(partnersPerHash, indexed("chash") === partnersPerHash("phash"))
      .groupBy(col("index"))
      .agg(array_sort(flatten(collect_list(col("partners")))).as("ps"))
      .select(col("index"),
        // drop self and keep the first (min-dist) entry per dst in ONE
        // linear index-aware pass: after the sort equal dst values are
        // adjacent with dist ascending, so an entry survives iff it is
        // not self and its predecessor has a different dst. (An
        // accumulate-into-array fold here copies the accumulator per
        // element — O(p²) in partner count, 71% of the round-1 bench.)
        expr("""filter(ps, (p, i) ->
                  p.dst != index AND (i = 0 OR element_at(ps, i).dst != p.dst))""").as("ms"))
      .filter(size(col("ms")) > 0)
      .select(
        col("index"),
        expr("transform(ms, m -> m.dst)").as("pdq_hash_duplicates"),
        expr("transform(ms, m -> 1.0d - m.dist / 256.0d)").as("pdq_hash_similarities")
      )
      .orderBy("index")
  }

  /** Hashes decomposed into eight PRIMITIVE long columns (32 bits
    * each), materialized behind a lineage cut: [[bandedHashJoin]] reads
    * each side twice, for its wide-band words and for the verify. */
  private def withWordCols(df: DataFrame, hashCol: String, prefix: String): DataFrame =
    Materialize(df.select(col("*") +: (0 until WordCols).map(i =>
      conv(col(hashCol).substr(i * 8 + 1, 8), 16, 10).cast("long").as(s"$prefix$i")): _*))

  /** 32-bit word columns per hash: 8 hex chars each, so the unsigned
    * value always fits a signed long after `conv`. */
  private val WordCols = 8

  /** Distance over the word columns of a joined (pw, cw) row. */
  private def wordColsDist(): Column =
    (0 until WordCols).map(i => bit_count(col(s"pw$i").bitwiseXOR(col(s"cw$i")))).reduce(_ + _)

  /** Probe sets up to this many DISTINCT hashes can run the broadcast
    * kernel (~32 MB packed at the default cap). Tunable via
    * `spark.graft.kernelMaxCorpus` (driver memory budget knob). */
  private[graft] val KernelMaxCorpusKey = "spark.graft.kernelMaxCorpus"
  private[graft] val KernelMaxCorpusDefault: Int = 1 << 20

  private def kernelCap(spark: SparkSession): Int =
    spark.conf.get(KernelMaxCorpusKey, KernelMaxCorpusDefault.toString).toInt

  /** The single-column frame's rows when there are at most `limit`,
    * else None: the bounded `limit(limit+1).collect()` is both the guard
    * and the kernel's broadcast build. `collected` is that collect when
    * the caller made it already. Without it, a frame whose row estimate
    * is over 4× `cap` (the estimate errs upward) is never collected. */
  private def collectUnder(df: DataFrame, limit: Int, cap: Int,
      collected: Option[Array[String]]): Option[Array[String]] =
    if (limit <= 0) None
    else collected
      .orElse(if (estimateRows(df) > BigInt(cap) * 4) None
        else Some(df.limit(limit + 1).collect().map(_.getString(0))))
      .filter(_.length <= limit)

  /** Band-key candidates per pair of random hashes at radius `n`: each
    * of the n+1 bands of 256/(n+1) bits collides by chance with
    * probability 2^(−256/(n+1)) (the pruning envelope in
    * [[graft.plans.HammingRadiusBandJoin]]'s scaladoc). At PDQ radii
    * (n = 51: ~1.7) banding prunes nothing. */
  private def bandCandidatesPerPair(n: Int): Double = (n + 1) * math.pow(2, -256.0 / (n + 1))

  /** Distinct pairs the kernel scans for `probeCount` distinct probes:
    * the probes squared for probe-all, else × the corpus's estimate. */
  private def kernelPairs(probeCount: Int, probeAll: Boolean, corpusRows: => BigInt): BigInt =
    BigInt(probeCount) * (if (probeAll) BigInt(probeCount) else corpusRows)

  /** Auto's band test: past the pair bound, and the band key's expected
    * candidates within it. */
  private def bandWins(pairs: BigInt, n: Int): Boolean =
    pairs > Strategy.AutoNaiveMaxPairs && BigDecimal(pairs) * bandCandidatesPerPair(n) <= Strategy.AutoNaiveMaxPairs

  /** The most distinct probes [[hashJoin]] packs into the kernel; 0 when
    * it takes no kernel whatever the count (n = 0, or Banded below 64).
    * Its bounded collect stops one row past this, and so does a caller
    * that collects for it ([[Facts.distinct]]). `corpusRows` is read only
    * when not `probeAll`. */
  private[operators] def collectLimit(spark: SparkSession, n: Int, strategy: Strategy, probeAll: Boolean,
      corpusRows: => BigInt = 0): Int = {
    val cap = kernelCap(spark)
    val maxPairs = Strategy.AutoNaiveMaxPairs
    strategy match {
      case _ if n == 0 => 0
      case Strategy.Banded if n < 64 => 0
      case Strategy.Auto if bandWins(kernelPairs(cap, probeAll, corpusRows), n) =>
        // the candidate test fails up to the cap: only the pair test can pass
        if (probeAll) math.min(cap, math.sqrt(maxPairs.toDouble).toInt)
        else (BigInt(maxPairs) / corpusRows.max(1)).min(cap).toInt
      case _ => cap
    }
  }

  /** The one Hamming dispatch: (phash, chash, dist) for every pair of a
    * DISTINCT canonical 64-hex probe (`phash`) and corpus hash (`chash`)
    * within `n`; `probeAll` when the probes are the corpus. Legs:
    *
    *  - n = 0: Hamming distance 0 between canonical hashes IS string
    *    equality, so the equi-join — for every strategy. This is the
    *    most common real invocation (exact-dup detection at t = 1.0).
    *  - the kernel: the distinct probes, from a bounded collect (or
    *    `collected`, that collect made by the caller), packed
    *    into [[HammingKernelJoin]], with the corpus (for probe-all, the
    *    collected probes themselves) streaming past them; Hamming is
    *    symmetric, so the columns swap back. Naive takes it
    *    whenever the collect fits the cap, Banded only at n ≥ 64 (no
    *    nibble banding exists there), Auto when the collect fits and
    *    either the pairs — distinct probes × corpus, the collected count
    *    for probe-all, else the corpus's plan estimate — stay within
    *    [[Strategy.AutoNaiveMaxPairs]], or the band key's expected
    *    candidates, pairs × [[bandCandidatesPerPair]], exceed it. The
    *    collect stops one row past [[collectLimit]], the largest count
    *    those tests can accept: at radii where the candidate test cannot
    *    pass under the cap, the largest count the pair test can
    *    (√AutoNaiveMaxPairs for probe-all), else the cap.
    *  - otherwise [[bandedHashJoin]] for n ≤ 63, and for n ≥ 64 the
    *    predicate join `hamming_distance(unhex(phash), unhex(chash)) <=
    *    n`, which [[HammingRadiusBandJoin]] bands at n = 64; n > 64 past
    *    the cap is the one nested loop left.
    *
    * Logs one INFO line naming the leg and the counts Auto's tests used. */
  private[graft] def hashJoin(probes: DataFrame, corpus: DataFrame, n: Int, strategy: Strategy,
      probeAll: Boolean = false, collected: Option[Array[String]] = None): DataFrame = {
    require(n >= 0 && n <= PdqHashLength, s"radius must be in [0, $PdqHashLength], got $n")
    def logLeg(leg: String): Unit = log.info(s"PdqDuplicates.hashJoin $strategy r=$n: $leg")
    if (n == 0) {
      logLeg("equi")
      return probes
        .join(corpus, col("phash") === col("chash"))
        .select(col("phash"), col("chash"), lit(0).as("dist"))
    }
    val spark = probes.sparkSession
    lazy val corpusRows = estimateRows(corpus)
    val limit = collectLimit(spark, n, strategy, probeAll, corpusRows)
    val hashes = collectUnder(probes, limit, kernelCap(spark), collected)
    val (fits, tests) = (strategy, hashes) match {
      case (Strategy.Auto, Some(ps)) =>
        val p = kernelPairs(ps.length, probeAll, corpusRows)
        (!bandWins(p, n), f" (pairs=$p, band candidates=${p.toDouble * bandCandidatesPerPair(n)}%.3g, " +
          s"max=${Strategy.AutoNaiveMaxPairs})")
      case (Strategy.Auto, None) => (false, s" (distinct probes over the collect limit of $limit)")
      case (_, ps) => (ps.isDefined, "")
    }
    hashes.filter(_ => fits) match {
      case Some(ps) =>
        logLeg(s"kernel packed=${ps.length}$tests")
        // probe-all: the collected probes ARE the distinct corpus, so
        // they stream themselves, with no second pass over the input
        val stream =
          if (probeAll) spark.createDataset(ps.toSeq)(Encoders.STRING).toDF("phash")
          else corpus.select(col("chash").as("phash"))
        HammingKernelJoin.join(stream, ps, n)
          .select(col("chash").as("phash"), col("phash").as("chash"), col("dist"))
      case None if n < 64 =>
        logLeg(s"band$tests")
        bandedHashJoin(probes, corpus, n)
      case None =>
        logLeg(s"theta$tests")
        if (!spark.experimental.extraOptimizations.contains(HammingRadiusBandJoin))
          spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ HammingRadiusBandJoin
        val dist = HammingDistance(unhex(col("phash")), unhex(col("chash")))
        probes.join(corpus, dist <= n).select(col("phash"), col("chash"), dist.as("dist"))
    }
  }

  /** Pigeonhole band join with the two-level (hierarchical) refinement:
    * beside the (band_id, band) equi-key, each exploded row carries the
    * word columns of the WIDE band (one of `m` equal hash quarters/
    * halves) its sub-band belongs to, and the join condition demands
    * that wide band's sub-distance stay within ⌊n/m⌋. Pigeonhole over
    * wide bands guarantees a qualifying pair has such a wide band, and
    * its nBands/m = ⌊n/m⌋+1 sub-bands re-pigeonhole to an exact match —
    * so completeness is intact, while a random single-sub-band collision
    * (at PDQ radii, ~80% of ALL pairs — flat banding's "pruning absent"
    * regime) now dies INSIDE the join on a 2×32-bit popcount instead of
    * surviving into the distinct + word-join + full-width verify. The
    * candidate distinct, previously the dominant shuffle (~N² rows at
    * k=51), processes only the near-duplicate survivors. m = largest of
    * 4/2 dividing nBands (keeps wide bands word-aligned); m = 1 falls
    * back to the flat shape. */
  private[operators] def bandedHashJoin(probes: DataFrame, corpus: DataFrame, n: Int): DataFrame = {
    val nBands = n + 1
    val probeW = withWordCols(probes, "phash", "pw")
    val corpusW = withWordCols(corpus, "chash", "cw")
    val m = if (nBands % 4 == 0) 4 else if (nBands % 2 == 0) 2 else 1
    // candidate rows carry ONLY the hash strings (plus, for m > 1, the
    // wide-band words) through the (possibly skewed) band join; full
    // word columns join back after dedup
    def banded(df: DataFrame, hashCol: String, p: String) = {
      val base = df
        .select(col(hashCol) +: (0 until WordCols).map(i => col(s"$p$i")): _*)
        .select(col(hashCol), array((0 until WordCols).map(i => col(s"$p$i")): _*).as("ws"),
          explode(hexBands(col(hashCol), nBands)).as("b"))
      if (m == 1)
        base.select(col(hashCol), col("b.band_id").as(s"${p}_band_id"), col("b.band").as(s"${p}_band"))
      else {
        val wpb = WordCols / m
        val spw = nBands / m
        val wide = (col("b.band_id") / lit(spw)).cast("int")
        base.select(col(hashCol) +: col("b.band_id").as(s"${p}_band_id") +:
          col("b.band").as(s"${p}_band") +:
          (0 until wpb).map(wj => element_at(col("ws"), wide * wpb + wj + 1).as(s"${p}_wb$wj")): _*)
      }
    }
    val pb = banded(probeW, "phash", "pw")
    val cb = banded(corpusW, "chash", "cw")
    val keyCond = col("pw_band_id") === col("cw_band_id") && col("pw_band") === col("cw_band")
    val cond =
      if (m == 1) keyCond
      else keyCond && (0 until WordCols / m)
        .map(wj => bit_count(col(s"pw_wb$wj").bitwiseXOR(col(s"cw_wb$wj")))).reduce(_ + _) <= n / m
    val candidates = pb.join(cb, cond)
      .select("phash", "chash")
      .distinct()
    candidates
      .join(probeW, Seq("phash"))
      .join(corpusW, Seq("chash"))
      .withColumn("dist", wordColsDist())
      .filter(col("dist") <= n)
      .select("phash", "chash", "dist")
  }

  /** Step 5 — the reference's `pdq_hash_output_formatter`
    * (`pdq_hash.py:18-73`) as a relational rewrite: symmetrize edges,
    * drop self-pairs, dedupe per (src, dst) keeping the smallest
    * distance, aggregate partner lists with deterministic ordering. */
  private[graft] def format(edges: DataFrame, alreadySymmetric: Boolean = false): DataFrame = {
    val sym = (if (alreadySymmetric) edges
               else edges.union(edges.select(col("dst").as("src"), col("src").as("dst"), col("dist"))))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst")
      .agg(min("dist").as("dist"))

    sym
      .groupBy(col("src").as("index"))
      .agg(sort_array(collect_list(struct(col("dst"), col("dist")))).as("ms"))
      .select(
        col("index"),
        transform(col("ms"), m => m.getField("dst")).as("pdq_hash_duplicates"),
        transform(col("ms"), m => similarity(m.getField("dist"))).as("pdq_hash_similarities")
      )
      .orderBy("index")
  }
}
