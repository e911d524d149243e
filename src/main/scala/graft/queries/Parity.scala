package graft.queries

import graft.operators.{DetectDuplicates, PdqDuplicates, UrlDuplicates}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import Tables.tbl

/** The reference's own query surface (url grouping, PDQ fuzzy dedup, the
  * combined detect API) exercised over deterministic synthetic columns
  * derived from the testdata tables, so the DuckDB oracle can re-derive
  * the identical input and replay the identical pipeline in SQL.
  *
  * Synthetic url: scheme variant by event_id%3 (https/http/none), case
  * variant by event_id%5 (upper host), fragment by event_id%4 — rows
  * sharing (user_id%20, event_id%50) normalize to the same base url.
  * Synthetic PDQ: md5-derived 64-hex hashes keyed by doc_id%50; every
  * 5th doc flips the last nibble (Hamming 1-4 — near-dup at radius 5);
  * every 11th doc strips leading zeros (exercises zfill); every 7th doc
  * carries a second hash pointing at the next group (exercises explode
  * and multi-hash rows).
  */
object Parity {

  // ---- shared Spark-side synth builders -------------------------------

  private[graft] def urlFrame(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "events")
    e.select(
      lpad(col("event_id").cast("string"), 8, "0").as("index"),
      concat(
        when(col("event_id") % 3 === 0, "https://")
          .when(col("event_id") % 3 === 1, "http://").otherwise(""),
        when(col("event_id") % 5 === 0, "SHOP-").otherwise("shop-"),
        (col("user_id") % 20).cast("string"),
        lit(".example.com/item/"),
        (col("event_id") % 100).cast("string"),
        when(col("event_id") % 4 === 0, concat(lit("#sec"), col("event_id").cast("string"))).otherwise("")
      ).as("url")
    )
  }

  /** DuckDB twin of [[urlFrame]]. */
  private val urlFrameSql: String = """
    SELECT lpad(CAST(event_id AS VARCHAR), 8, '0') AS idx,
           (CASE WHEN event_id % 3 = 0 THEN 'https://' WHEN event_id % 3 = 1 THEN 'http://' ELSE '' END)
           || (CASE WHEN event_id % 5 = 0 THEN 'SHOP-' ELSE 'shop-' END)
           || CAST(user_id % 20 AS VARCHAR) || '.example.com/item/' || CAST(event_id % 100 AS VARCHAR)
           || (CASE WHEN event_id % 4 = 0 THEN '#sec' || CAST(event_id AS VARCHAR) ELSE '' END) AS url
    FROM events"""

  private[graft] def pdqFrame(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    val g = (col("doc_id") % 50).cast("string")
    val g2 = ((col("doc_id") + 1) % 50).cast("string")
    val base = concat(md5(g), md5(concat(g, lit("s"))))
    val base2 = concat(md5(g2), md5(concat(g2, lit("s"))))
    val h1 = when(col("doc_id") % 5 === 0,
      concat(substring(base, 1, 63),
        when(substring(base, 64, 1) === "0", "1").otherwise("0"))).otherwise(base)
    val h1s = when(col("doc_id") % 11 === 0, regexp_replace(h1, "^0+", "")).otherwise(h1)
    d.select(
      lpad(col("doc_id").cast("string"), 8, "0").as("index"),
      when(col("doc_id") % 7 === 0, array(h1s, base2)).otherwise(array(h1s)).as("pdq_hash")
    )
  }

  /** DuckDB twin of [[pdqFrame]] → rows (idx, pdq LIST(VARCHAR)). */
  private val pdqFrameSql: String = """
    SELECT idx, CASE WHEN doc_id % 7 = 0 THEN [h1s, base2] ELSE [h1s] END AS pdq
    FROM (
      SELECT idx, doc_id, base2,
             CASE WHEN doc_id % 11 = 0 THEN regexp_replace(h1, '^0+', '') ELSE h1 END AS h1s
      FROM (
        SELECT idx, doc_id, base2,
               CASE WHEN doc_id % 5 = 0
                 THEN substr(base, 1, 63) || (CASE WHEN substr(base, 64, 1) = '0' THEN '1' ELSE '0' END)
                 ELSE base END AS h1
        FROM (
          SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS idx, doc_id,
                 md5(CAST(doc_id % 50 AS VARCHAR)) || md5(CAST(doc_id % 50 AS VARCHAR) || 's') AS base,
                 md5(CAST((doc_id + 1) % 50 AS VARCHAR)) || md5(CAST((doc_id + 1) % 50 AS VARCHAR) || 's') AS base2
          FROM documents
        )
      )
    )"""

  /** CTEs deriving the flat url duplicate-edge relation `urledges(src,
    * dst)` from a (idx, url) relation. The driver's gate sorts result
    * frames in pandas, which cannot sort array cells — so every
    * driver-facing query emits SCALAR columns: the edge relation, not
    * the reference's array-typed member lists (the operator API keeps
    * the arrays; only the gate projection is flat). */
  private def urlEdgesCtes(inputSql: String): String = s"""
    t AS ($inputSql),
    n AS (
      SELECT idx, regexp_replace(regexp_replace(lower(url), '^[a-z][a-z0-9+.-]*://', ''), '#.*$$', '', 's') AS base_url
      FROM t WHERE url IS NOT NULL
    ),
    urledges AS (
      SELECT a.idx AS src, b.idx AS dst
      FROM n a JOIN n b ON b.base_url = a.base_url AND b.idx <> a.idx
    )"""

  /** CTEs deriving the flat pdq duplicate-edge relation `edges(src, dst,
    * dist)` (radius 5 = threshold 0.98) from a (idx, pdq LIST(VARCHAR))
    * relation; per-(src,dst) min-dist dedupe included. */
  private def pdqEdgesCtes(inputSql: String): String = s"""
    rows_ AS ($inputSql),
    ex AS (
      SELECT DISTINCT idx, ch FROM (
        SELECT idx, lower(lpad(unnest(pdq), 64, '0')) AS ch FROM rows_
      )
    ),
    dh AS (SELECT DISTINCT ch FROM ex),
    near AS (
      SELECT a.ch AS pch, b.ch AS cch,
        CAST(list_sum(list_transform(generate_series(0, 7), k ->
          bit_count(xor(CAST('0x' || substr(a.ch, k * 8 + 1, 8) AS BIGINT),
                        CAST('0x' || substr(b.ch, k * 8 + 1, 8) AS BIGINT))))) AS BIGINT) AS dist
      FROM dh a, dh b
    ),
    edges AS (
      SELECT pa.idx AS src, pb.idx AS dst, min(n.dist) AS dist
      FROM (SELECT * FROM near WHERE dist <= 5) n
      JOIN ex pa ON pa.ch = n.pch
      JOIN ex pb ON pb.ch = n.cch
      WHERE pa.idx <> pb.idx
      GROUP BY src, dst
    )"""

  /** Faster/parametrized twin of [[pdqEdgesCtes]] for the quadratic
    * scale oracles: distinct hashes pre-split into eight 32-bit words
    * (no per-pair list ops), UPPER-TRIANGLE cross join, mirrored back
    * to both orientations plus the dist-0 diagonal (equal hashes on
    * different ids must still pair). Produces the same
    * `edges(src, dst, dist)` relation at an arbitrary `radius`. */
  private def pdqWordEdgesCtes(inputSql: String, radius: Int): String = {
    val words = (0 until 8)
      .map(k => s"CAST('0x' || substr(ch, ${k * 8 + 1}, 8) AS BIGINT) AS w$k")
      .mkString(", ")
    val dist = (0 until 8)
      .map(k => s"CAST(bit_count(xor(a.w$k, b.w$k)) AS INTEGER)").mkString(" + ")
    s"""
    rows_ AS ($inputSql),
    ex AS (
      SELECT DISTINCT idx, ch FROM (
        SELECT idx, lower(lpad(unnest(pdq), 64, '0')) AS ch FROM rows_
      )
    ),
    dw AS (
      SELECT ch, $words
      FROM (SELECT DISTINCT ch FROM ex)
    ),
    neart AS (
      SELECT a.ch AS pch, b.ch AS cch, $dist AS dist
      FROM dw a JOIN dw b ON a.ch < b.ch
    ),
    near AS (
      SELECT pch, cch, dist FROM neart WHERE dist <= $radius
      UNION ALL
      SELECT cch, pch, dist FROM neart WHERE dist <= $radius
      UNION ALL
      SELECT ch AS pch, ch AS cch, 0 AS dist FROM dw
    ),
    edges AS (
      SELECT pa.idx AS src, pb.idx AS dst, CAST(min(n.dist) AS BIGINT) AS dist
      FROM near n
      JOIN ex pa ON pa.ch = n.pch
      JOIN ex pb ON pb.ch = n.cch
      WHERE pa.idx <> pb.idx
      GROUP BY src, dst
    )"""
  }

  // ---- query defs ------------------------------------------------------

  /** Gate projection: explode the operator's array-typed output (kept as
    * the public API shape) into the flat (index, duplicate, similarity)
    * edge relation — scalar columns the driver's pandas sort can handle,
    * and the saner output contract at 100 TB anyway (no per-row arrays
    * quadratic in clique size). */
  private[graft] def flatPdq(out: DataFrame): DataFrame = out
    .select(col("index"), col("pdq_hash_similarities"), posexplode(col("pdq_hash_duplicates")))
    .select(col("index"), col("col").as("duplicate"),
      element_at(col("pdq_hash_similarities"), col("pos") + 1).as("similarity"))

  val urlDups: QueryDef = QueryDef(
    "url_dups",
    // no final orderBy: the gate sorts both sides itself; a total sort
    // of the ~5M-row edge relation at sf0.1 is pure overhead
    (s, dir) => UrlDuplicates(urlFrame(s, dir))
      .select(col("index"), explode(col("url_duplicates")).as("url_duplicate")),
    Some(s"""
    WITH ${urlEdgesCtes(urlFrameSql)}
    SELECT src AS "index", dst AS url_duplicate FROM urledges ORDER BY 1, 2""")
  )

  /** Soak-tier twin of [[urlDups]]: deterministic 1-in-4 input subsample
    * (event_id % 4 == 1) applied identically on BOTH engines. Exists so
    * the sf0.5 scale soak records hash-stability for the quadratic-clique
    * heavy tier inside the DuckDB oracle's time budget: the full url_dups
    * oracle's clique output grows ~25× at 5× input, but clique sizes are
    * input-linear, so a 1/4 input sample cuts oracle output ~16×. Same
    * operator, same normalization, same group structure (groups key on
    * (user_id%20, event_id%50) and survive any event_id-mod filter). */
  val urlDupsSub: QueryDef = QueryDef(
    "url_dups_sub",
    (s, dir) => UrlDuplicates(urlFrame(s, dir).filter(col("index").cast("long") % 4 === 1))
      .select(col("index"), explode(col("url_duplicates")).as("url_duplicate")),
    Some(s"""
    WITH ${urlEdgesCtes(s"SELECT * FROM ($urlFrameSql) WHERE CAST(idx AS BIGINT) % 4 = 1")}
    SELECT src AS "index", dst AS url_duplicate FROM urledges ORDER BY 1, 2""")
  )

  /** Per-domain statistics over the url frame (20 synthetic hosts after
    * case-folding). */
  val domainStats: QueryDef = QueryDef(
    "domain_stats",
    (s, dir) => graft.operators.Domains.domainStats(urlFrame(s, dir), "url").orderBy("domain"),
    Some(s"""
      WITH u AS ($urlFrameSql)
      SELECT ${graft.functions.UrlFunctions.hostSql("url")} AS domain,
        count(*) AS n_docs,
        count(DISTINCT ${graft.functions.UrlFunctions.normalizeUrlSql("url")}) AS n_distinct_urls
      FROM u WHERE url IS NOT NULL GROUP BY 1 ORDER BY 1
    """.trim)
  )

  /** Deterministic per-domain cap (C4/RefinedWeb-style crawl-monoculture
    * guard): keep the first 100 rows per host by ascending index. */
  val domainCap: QueryDef = QueryDef(
    "domain_cap",
    (s, dir) => graft.operators.Domains.capPerDomain(urlFrame(s, dir), "url", "index", 100)
      .orderBy("index"),
    Some(s"""
      WITH u AS ($urlFrameSql),
      r AS (
        SELECT idx, url,
          row_number() OVER (
            PARTITION BY ${graft.functions.UrlFunctions.hostSql("url")} ORDER BY idx) AS rn
        FROM u WHERE url IS NOT NULL
      )
      SELECT idx AS "index", url FROM r WHERE rn <= 100 ORDER BY 1
    """.trim)
  )

  val pdqThreshold = 0.98 // radius rint(256*0.02) = 5

  private def pdqDupsOracle: String = s"""
    WITH ${pdqEdgesCtes(pdqFrameSql)}
    SELECT src AS "index", dst AS duplicate, 1.0 - dist / 256.0 AS similarity
    FROM edges ORDER BY 1, 2"""

  val pdqDupsNaive: QueryDef = QueryDef(
    "pdq_dups_naive",
    (s, dir) => flatPdq(PdqDuplicates(pdqFrame(s, dir), similarityThreshold = pdqThreshold,
      strategy = PdqDuplicates.Strategy.Naive, assumeFixed256 = true))
      .orderBy("index", "duplicate"),
    Some(pdqDupsOracle)
  )

  val pdqDupsBanded: QueryDef = QueryDef(
    "pdq_dups_banded",
    (s, dir) => flatPdq(PdqDuplicates(pdqFrame(s, dir), similarityThreshold = pdqThreshold,
      strategy = PdqDuplicates.Strategy.Banded, assumeFixed256 = true))
      .orderBy("index", "duplicate"),
    Some(pdqDupsOracle)
  )

  /** The reference's top-level `detect_duplicates` on a frame carrying
    * BOTH payload columns (url from events; pdq hashes derived from
    * event_id so the two branches share one input relation). */
  val detectFull: QueryDef = {
    def frame(s: SparkSession, dir: String): DataFrame = {
      val u = urlFrame(s, dir)
      // group modulus 1000: near-dup clique size scales as |events|/1000
      // (10 at sf0.01, 100 at sf0.1) — the per-member output contract is
      // quadratic in clique size, so the modulus bounds it
      val g = (col("event_id") % 1000).cast("string")
      val base = concat(md5(g), md5(concat(g, lit("s"))))
      val h1 = when(col("event_id") % 5 === 0,
        concat(substring(base, 1, 63),
          when(substring(base, 64, 1) === "0", "1").otherwise("0"))).otherwise(base)
      val hashes = tbl(s, dir, "events").select(
        lpad(col("event_id").cast("string"), 8, "0").as("index"),
        array(h1).as("pdq_hash"))
      u.join(hashes, Seq("index"))
    }
    val pdqInputSql = """
      SELECT lpad(CAST(event_id AS VARCHAR), 8, '0') AS idx,
             [CASE WHEN event_id % 5 = 0
               THEN substr(base, 1, 63) || (CASE WHEN substr(base, 64, 1) = '0' THEN '1' ELSE '0' END)
               ELSE base END] AS pdq
      FROM (
        SELECT event_id, md5(CAST(event_id % 1000 AS VARCHAR)) || md5(CAST(event_id % 1000 AS VARCHAR) || 's') AS base
        FROM events
      )"""
    QueryDef(
      "detect_full",
      // the flat edges API: the (index, kind, partner, similarity)
      // relation directly — no per-row arrays built and re-exploded,
      // no materialization barrier, no final sort (the gate sorts rows
      // itself). Equivalence between this and exploding the array API
      // is asserted in the ScalaTest suite.
      (s, dir) => DetectDuplicates.edges(frame(s, dir), similarityThreshold = pdqThreshold,
        method = "auto", assumeFixed256 = true),
      Some(s"""
        WITH ${urlEdgesCtes(urlFrameSql)},
        ${pdqEdgesCtes(pdqInputSql)}
        SELECT src AS "index", 'url' AS kind, dst AS partner, CAST(NULL AS DOUBLE) AS similarity
        FROM urledges
        UNION ALL
        SELECT src, 'pdq', dst, 1.0 - dist / 256.0 FROM edges
        ORDER BY 1, 2, 3""".trim)
    )
  }

  /** The shared scale-corpus construction (the reference's benchmark
    * recipe: distinct pseudo-random 256-bit hashes with a planted
    * near-dup pair every 997 ids — cir-duplicate-detector
    * `tests/integration/test_large_duplicate_detection.py:16-20`
    * builds evenly-spaced `%064x` hashes the same way). */
  private def scaleFrame(s: SparkSession, dir: String, n: Int): DataFrame = {
    val e = tbl(s, dir, "events").filter(col("event_id") < n)
    val g = col("event_id").cast("string")
    val base = concat(md5(g), md5(concat(g, lit("x"))))
    val h = when(col("event_id") % 997 === 0,
      concat(substring(base, 1, 63),
        when(substring(base, 64, 1) === "0", "1").otherwise("0")))
      .otherwise(base)
    e.select(
      lpad(col("event_id").cast("string"), 8, "0").as("index"),
      array(when(col("event_id") % 997 === 1,
        concat(md5((col("event_id") - 1).cast("string")),
          md5(concat((col("event_id") - 1).cast("string"), lit("x"))))).otherwise(h)).as("pdq_hash"))
  }

  /** The reference's published benchmark configuration (BASELINE.md:
    * 30,225 hashes, similarity 0.8, naive backend, multi-core): ~30k
    * DISTINCT random 256-bit hashes, all-pairs at radius
    * rint(256·0.2) = 51. ~900M codegen'd Hamming evaluations — the
    * direct single-node throughput comparison against the reference's
    * 20-CPU figure. A planted near-dup every 997 ids keeps the result
    * set non-empty. No DuckDB oracle: DuckDB 1.0.0 materializes the
    * twin's whole upper-triangle pair relation (~457 M rows carrying
    * both hex strings) before the radius filter. On a 4-core, 15 GB
    * host it spilled until 20 GB of free disk ran out, and with a 3 GB
    * memory limit and a 2 GB spill cap it fails after 4.7 s (10,000
    * hashes, the sf0.01 input: 4 GB + 4 GB, fails after 7.9 s).
    * [[pdqScale3k]] is the subsampled twin that CAN be oracle'd (1.8 s),
    * so the rows-only record here is backed by a hash-matched
    * gate on the identical construction. */
  val pdqScale30k: QueryDef = QueryDef(
    "pdq_scale_30k",
    (s, dir) =>
      flatPdq(PdqDuplicates(scaleFrame(s, dir, 30225), similarityThreshold = 0.8,
        strategy = PdqDuplicates.Strategy.Naive, assumeFixed256 = true))
        .orderBy("index", "duplicate"),
    None
  )

  /** [[pdqScale30k]] subsampled to 3,000 hashes — the SAME corpus
    * construction, naive strategy, and radius-51 contract, but small
    * enough (~4.5M upper-triangle pairs) for the DuckDB oracle to
    * replay the full quadratic in gate time (~1 s): distinct hashes →
    * eight 32-bit words → triangle cross join with popcount distance,
    * mirrored to both orientations plus the dist-0 diagonal (equal
    * hashes on different ids must still pair). Closes the board's one
    * permanent `no_oracle` row. */
  val pdqScale3k: QueryDef = QueryDef(
    "pdq_scale_3k",
    (s, dir) =>
      flatPdq(PdqDuplicates(scaleFrame(s, dir, 3000), similarityThreshold = 0.8,
        strategy = PdqDuplicates.Strategy.Naive, assumeFixed256 = true))
        .orderBy("index", "duplicate"),
    Some(s"""
      WITH ${pdqWordEdgesCtes(
        """SELECT lpad(CAST(event_id AS VARCHAR), 8, '0') AS idx,
          [CASE WHEN event_id % 997 = 1
             THEN md5(CAST(event_id - 1 AS VARCHAR)) || md5(CAST(event_id - 1 AS VARCHAR) || 'x')
             WHEN event_id % 997 = 0
             THEN substr(base, 1, 63) || (CASE WHEN substr(base, 64, 1) = '0' THEN '1' ELSE '0' END)
             ELSE base END] AS pdq
        FROM (
          SELECT event_id,
            md5(CAST(event_id AS VARCHAR)) || md5(CAST(event_id AS VARCHAR) || 'x') AS base
          FROM events WHERE event_id < 3000
        )""", radius = 51)}
      SELECT src AS "index", dst AS duplicate, 1.0 - dist / 256.0 AS similarity
      FROM edges ORDER BY 1, 2""".trim)
  )

  /** SKEW STRESS for the banded hash join — SURVEY §7.4's black-frame
    * pathology: every fifth row (20%) carries ONE identical hash (a
    * black frame hashes identically everywhere), the rest unique
    * pseudo-random hashes. The operator's skew bound is the
    * DISTINCT-hash relation — banding, the radius match, and the
    * Hamming verify all run over distinct hashes, and the ~400 hot
    * copies fan out only at the final per-id re-attach (the quadratic
    * clique output is the reference CONTRACT: every copy lists every
    * other copy). Input capped at 2,000 ids so the ~160k-edge clique
    * stays gate-sized; PlanShapeSpec pins the mitigation shape. */
  val pdqDupsSkew: QueryDef = QueryDef(
    "pdq_dups_skew",
    (s, dir) => {
      val e = tbl(s, dir, "events").filter(col("event_id") < 2000)
      val g = col("event_id").cast("string")
      val h = when(col("event_id") % 5 === 0,
        concat(md5(lit("black")), md5(lit("blackx"))))
        .otherwise(concat(md5(g), md5(concat(g, lit("x")))))
      val frame = e.select(
        lpad(col("event_id").cast("string"), 8, "0").as("index"),
        array(h).as("pdq_hash"))
      flatPdq(PdqDuplicates(frame, similarityThreshold = pdqThreshold,
        strategy = PdqDuplicates.Strategy.Banded, assumeFixed256 = true))
        .orderBy("index", "duplicate")
    },
    Some(s"""
      WITH ${pdqWordEdgesCtes(
        """SELECT lpad(CAST(event_id AS VARCHAR), 8, '0') AS idx,
          [CASE WHEN event_id % 5 = 0 THEN md5('black') || md5('blackx')
           ELSE md5(CAST(event_id AS VARCHAR)) || md5(CAST(event_id AS VARCHAR) || 'x') END] AS pdq
        FROM events WHERE event_id < 2000""", radius = 5)}
      SELECT src AS "index", dst AS duplicate, 1.0 - dist / 256.0 AS similarity
      FROM edges ORDER BY 1, 2""".trim)
  )

  /** Crawl-grade canonicalization ([[graft.functions.UrlFunctions
    * .canonicalUrl]]) over a url frame with planted variance: scheme
    * case mix, `www.`, default vs real ports, trailing slashes,
    * permuted + tracking-polluted query strings, fragments — permuted
    * clean params must collide, the `:8080` port must survive. */
  val urlCanonical: QueryDef = QueryDef(
    "url_canonical",
    (s, dir) => {
      val e = tbl(s, dir, "events")
      val url = concat(
        when(col("event_id") % 3 === 0, "https://")
          .when(col("event_id") % 3 === 1, "http://").otherwise(""),
        when(col("event_id") % 7 === 0, "www.").otherwise(""),
        lit("shop-"), (col("user_id") % 20).cast("string"), lit(".example.com"),
        when(col("event_id") % 5 === 0, ":443")
          .when(col("event_id") % 5 === 1, ":8080").otherwise(""),
        lit("/item/"), (col("event_id") % 100).cast("string"),
        when(col("event_id") % 6 === 0, "/").otherwise(""),
        when(col("event_id") % 4 === 0, "?utm_source=x&b=2&a=1")
          .when(col("event_id") % 4 === 1, "?a=1&b=2")
          .when(col("event_id") % 4 === 2, "?b=2&a=1&utm_campaign=z").otherwise(""),
        when(col("event_id") % 8 === 0,
          concat(lit("#sec"), col("event_id").cast("string"))).otherwise("")
      )
      e.select(lpad(col("event_id").cast("string"), 8, "0").as("idx"),
        graft.functions.UrlFunctions.canonicalUrl(url).as("canonical_url"))
        .orderBy("idx")
    },
    Some(s"""
      WITH u AS (SELECT lpad(CAST(event_id AS VARCHAR), 8, '0') AS idx,
        (CASE WHEN event_id % 3 = 0 THEN 'https://' WHEN event_id % 3 = 1 THEN 'http://' ELSE '' END)
        || (CASE WHEN event_id % 7 = 0 THEN 'www.' ELSE '' END)
        || 'shop-' || CAST(user_id % 20 AS VARCHAR) || '.example.com'
        || (CASE WHEN event_id % 5 = 0 THEN ':443' WHEN event_id % 5 = 1 THEN ':8080' ELSE '' END)
        || '/item/' || CAST(event_id % 100 AS VARCHAR)
        || (CASE WHEN event_id % 6 = 0 THEN '/' ELSE '' END)
        || (CASE WHEN event_id % 4 = 0 THEN '?utm_source=x&b=2&a=1' WHEN event_id % 4 = 1 THEN '?a=1&b=2'
                 WHEN event_id % 4 = 2 THEN '?b=2&a=1&utm_campaign=z' ELSE '' END)
        || (CASE WHEN event_id % 8 = 0 THEN '#sec' || CAST(event_id AS VARCHAR) ELSE '' END) AS url
        FROM events)
      SELECT idx, ${graft.functions.UrlFunctions.canonicalUrlSql("url")} AS canonical_url
      FROM u ORDER BY idx""".trim)
  )

  val defs: Seq[QueryDef] = Seq(urlDups, urlDupsSub, pdqDupsNaive, pdqDupsBanded, detectFull,
    pdqScale30k, pdqScale3k, pdqDupsSkew, domainStats, domainCap, urlCanonical)
}
