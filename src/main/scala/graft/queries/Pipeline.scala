package graft.queries

import graft.operators.{Classify, CurationFunnel, Decontaminate, Dedup, Jpeg, Layout, Materialize, Media, MediaIndex, Packing, PdqDuplicates, PdqHash, RecordLinkage, SimilaritySearch, Sketches, Splits, TextAnalysis}
import graft.functions.TextFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import Tables.tbl

/** Training-data pipeline queries: dedup tiers, similarity search, text
  * analysis, multimodal metadata — each wired over the testdata with a
  * DuckDB oracle that replays the identical algorithm in SQL.
  *
  * Near-dup tiers run over `corpus` = documents ∪ planted variants
  * (every 5th doc re-appears with an appended tail under id+1_000_000),
  * so the expected output contains real near-duplicate pairs instead of
  * being vacuously empty on the synthetic corpus.
  */
object Pipeline {

  // ---- shared corpus with planted near-duplicates ---------------------

  /** Per-process root for gate scratch dirs: stable within a process
    * (bench reps / plan inspection reuse ONE overwritten directory, no
    * per-invocation leak) but unique across processes, so concurrent
    * runs (Verify beside Bench, two CI jobs, two users on one host)
    * never overwrite each other's index mid-read. All gate scratch
    * lives under this single root, and a shutdown hook deletes the
    * root — repeated CI/test runs leave nothing behind in tmpdir. */
  private lazy val gateScratchRoot: java.io.File = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val root = new java.io.File(sys.props("java.io.tmpdir"), s"graft_gate_$token")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(root)
    }
    root
  }

  private def gateScratchDir(name: String): String =
    new java.io.File(gateScratchRoot, name).getPath

  private val tail = " extra tail words appended here"

  private def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    d.select(col("doc_id").as("id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("id"),
          concat(col("text"), lit(tail)).as("text")))
  }

  private val corpusSql =
    s"""SELECT doc_id AS id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text || '$tail' FROM documents WHERE doc_id % 5 = 0"""

  /** Staged CTEs shared by the shingle-based oracles: corpus → words →
    * 3-shingles → (optionally distinct) hashes. `prefix` renames the
    * CTEs (`<p>w`, `<p>sh`, `<p>hs`) so two instantiations can coexist
    * in one query (e.g. batch vs corpus in incremental dedup). */
  private def shingleCtes(input: String, hashBits30: Boolean, distinct: Boolean,
      prefix: String = ""): String = {
    val h = if (hashBits30) "CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 1073741824"
            else "CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)"
    val wrap: String => String = e => if (distinct) s"list_distinct($e)" else e
    s"""${prefix}w AS (SELECT id, list_filter(regexp_split_to_array(text, ' +'), x -> len(x) > 0) AS ws FROM ($input)),
        ${prefix}sh AS (SELECT id, CASE WHEN len(ws) >= 3 THEN list_transform(generate_series(1, len(ws) - 2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) ELSE CAST([] AS VARCHAR[]) END AS sh FROM ${prefix}w),
        ${prefix}hs AS (SELECT id, ${wrap("list_transform(sh, s -> " + h + ")")} AS hs FROM ${prefix}sh WHERE len(sh) > 0)"""
  }

  // ---- dedup tiers ----------------------------------------------------

  val dedupExact: QueryDef = QueryDef(
    "dedup_exact",
    (s, dir) => Dedup.exactGroups(tbl(s, dir, "events"), Seq("user_id", "event_type"), "event_id")
      .orderBy("user_id", "event_type"),
    Some("""
      SELECT user_id, event_type, count(*) AS n_rows, min(event_id) AS keeper
      FROM events GROUP BY user_id, event_type HAVING count(*) >= 2
      ORDER BY user_id, event_type
    """.trim)
  )

  /** CTE chain replaying [[Dedup.minhashLshPairs]] (k=16, 4 bands,
    * threshold filter applied by the consumer over `j.jaccard`). */
  private def minhashCtes(input: String): String =
    s"""${shingleCtes(input, hashBits30 = true, distinct = true)},
      sig AS (
        SELECT id, hs, list_transform(generate_series(0, 15), i ->
          list_min(list_transform(hs, h -> (h * (2*i + 1) + 12345*i + 7) % ${TextFunctions.MinhashPrime}))) AS sig
        FROM hs
      ),
      b AS (
        SELECT id, hs, band_id, sig[band_id*4 + 1 : band_id*4 + 4] AS band
        FROM sig CROSS JOIN unnest([0, 1, 2, 3]) AS t(band_id)
      ),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b2.id AS id_b
        FROM b a JOIN b b2 ON a.band_id = b2.band_id AND a.band = b2.band AND a.id < b2.id
      ),
      j AS (
        SELECT id_a, id_b,
          CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
            / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) AS jaccard
        FROM cand JOIN hs ha ON ha.id = cand.id_a JOIN hs hb ON hb.id = cand.id_b
      )"""

  val minhashLsh: QueryDef = QueryDef(
    "minhash_lsh",
    (s, dir) => Dedup.minhashLshPairs(corpus(s, dir), "id", "text",
      shingleLen = 3, k = 16, bands = 4, threshold = 0.6).orderBy("id_a", "id_b"),
    Some(s"""
      WITH ${minhashCtes(corpusSql)}
      SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.6 ORDER BY id_a, id_b
    """.trim)
  )

  /** Near-dup GROUPS: connected components over the verified MinHash
    * pairs — cluster id = min member id, the canonical keeper. Oracle:
    * recursive-CTE transitive closure over the symmetric edge set
    * (fine at gate scale; the engine side is the O(log d) pointer-
    * jumping propagation that scales). */
  val dedupClusters: QueryDef = QueryDef(
    "dedup_clusters",
    (s, dir) => Dedup.connectedComponents(
      Dedup.minhashLshPairs(corpus(s, dir), "id", "text",
        shingleLen = 3, k = 16, bands = 4, threshold = 0.6)).orderBy("id"),
    Some(s"""
      WITH RECURSIVE ${minhashCtes(corpusSql)},
      p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.6),
      e AS (SELECT id_a AS s, id_b AS d FROM p UNION ALL SELECT id_b, id_a FROM p),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM e
        UNION
        SELECT e.d, reach.r FROM e JOIN reach ON e.s = reach.id
      )
      SELECT id, min(r) AS cluster FROM reach GROUP BY id ORDER BY id
    """.trim)
  )

  /** The deduped corpus itself: survivors after MinHash pairs →
    * connected components → keep the minimum id per component.
    * Oracle: the dedup_clusters closure, anti-joined. */
  val nearDedupSurvivors: QueryDef = QueryDef(
    "near_dedup_survivors",
    (s, dir) => Dedup.nearDupSurvivors(corpus(s, dir), "id", "text",
      shingleLen = 3, k = 16, bands = 4, threshold = 0.6)
      .select(col("id"), md5(col("text")).as("text_md5"))
      .orderBy("id"),
    Some(s"""
      WITH RECURSIVE ${minhashCtes(corpusSql)},
      p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.6),
      e AS (SELECT id_a AS s, id_b AS d FROM p UNION ALL SELECT id_b, id_a FROM p),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM e
        UNION
        SELECT e.d, reach.r FROM e JOIN reach ON e.s = reach.id
      ),
      losers AS (SELECT id FROM (SELECT id, min(r) AS cluster FROM reach GROUP BY id) WHERE id <> cluster)
      SELECT c.id, md5(c.text) AS text_md5
      FROM ($corpusSql) c
      WHERE c.id NOT IN (SELECT id FROM losers)
      ORDER BY c.id
    """.trim)
  )

  /** Quality-aware survivors: same pair/component derivation, but the
    * keeper per component is the HIGHEST-scoring doc (score = word
    * count here — "keep the longest copy", ties → min id). The planted
    * tail variants are strictly longer than their originals, so the
    * survivor set provably DIFFERS from `near_dedup_survivors`'
    * min-id rule on every planted component. */
  val bestSurvivors: QueryDef = QueryDef(
    "best_survivors",
    (s, dir) => {
      val scored = corpus(s, dir)
        .withColumn("score", size(TextFunctions.words(col("text"))).cast("double"))
      Dedup.nearDupSurvivorsBy(scored, "id", "text", "score",
        shingleLen = 3, k = 16, bands = 4, threshold = 0.6)
        .select(col("id"), md5(col("text")).as("text_md5"),
          col("score").cast("long").as("n_words"))
        .orderBy("id")
    },
    Some(s"""
      WITH RECURSIVE ${minhashCtes(corpusSql)},
      p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.6),
      e AS (SELECT id_a AS s, id_b AS d FROM p UNION ALL SELECT id_b, id_a FROM p),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM e
        UNION
        SELECT e.d, reach.r FROM e JOIN reach ON e.s = reach.id
      ),
      cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
      sc AS (SELECT id, CAST(len(${TextFunctions.wordsSql("text")}) AS DOUBLE) AS s
             FROM ($corpusSql)),
      m AS (SELECT cl.id, cl.cluster, sc.s FROM cl JOIN sc USING (id)),
      win AS (SELECT cluster, id AS wid FROM (
              SELECT cluster, id,
                row_number() OVER (PARTITION BY cluster ORDER BY s DESC, id) AS rn
              FROM m) WHERE rn = 1),
      losers AS (SELECT m.id FROM m JOIN win USING (cluster) WHERE m.id <> win.wid)
      SELECT c.id, md5(c.text) AS text_md5,
        CAST(len(${TextFunctions.wordsSql("text")}) AS BIGINT) AS n_words
      FROM ($corpusSql) c
      WHERE c.id NOT IN (SELECT id FROM losers)
      ORDER BY c.id
    """.trim)
  )

  val simhashSigs: QueryDef = QueryDef(
    "simhash_sigs",
    (s, dir) => Dedup.simhashSigs(corpus(s, dir), "id", "text").orderBy("id"),
    Some(s"""
      WITH w AS (SELECT id, list_filter(regexp_split_to_array(text, ' +'), x -> len(x) > 0) AS ws FROM ($corpusSql)),
      h AS (SELECT id, list_transform(ws, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs FROM w WHERE len(ws) > 0)
      SELECT id, ${TextFunctions.simhash60Sql("hs")} AS simhash FROM h ORDER BY id
    """.trim)
  )

  // radius 3 over 60 bits with 2 bands of 30 bits + 1-flip multi-probe
  // (Manku et al. WWW'07 regime): band cardinality 2^30 >> corpus, so
  // bucket sizes — and with them candidate volume — stay bounded at
  // scale, unlike maxDist+1 narrow bands (≤ 2^6 values each).
  // Measured at sf0.1 (6k docs): 23.2k candidates (~3.9/doc) for 1k
  // verified pairs; expected RANDOM band collisions ≈ 2 (probe·corpus /
  // (bands·2^30)) — the rest are true 30-bit signature-band agreements
  // from the shared-vocabulary synthetic corpus, i.e. the irreducible
  // cost of any complete banding at this radius.
  val simhashMaxDist = 3

  val simhashPairs: QueryDef = QueryDef(
    "simhash_pairs",
    // bands is left at the default: since round 3 it selects this same
    // wide scheme (floor(maxDist/2)+1 = 2 bands of 30 bits), so the gate
    // exercises the default path API callers get
    (s, dir) => Dedup.simhashPairs(Dedup.simhashSigs(corpus(s, dir), "id", "text"),
      maxDist = simhashMaxDist)
      .orderBy("id_a", "id_b"),
    // multi-probe banding is COMPLETE for dist <= maxDist (pigeonhole),
    // so the oracle is the straight all-pairs join over the signatures
    Some(s"""
      WITH w AS (SELECT id, list_filter(regexp_split_to_array(text, ' +'), x -> len(x) > 0) AS ws FROM ($corpusSql)),
      h AS (SELECT id, list_transform(ws, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs FROM w WHERE len(ws) > 0),
      sigs AS (SELECT id, ${TextFunctions.simhash60Sql("hs")} AS simhash FROM h)
      SELECT a.id AS id_a, b.id AS id_b,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
      FROM sigs a JOIN sigs b ON a.id < b.id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= $simhashMaxDist
      ORDER BY id_a, id_b
    """.trim)
  )

  val ngramJaccard: QueryDef = QueryDef(
    "ngram_jaccard",
    (s, dir) => Dedup.ngramJaccardPairs(
      corpus(s, dir).filter((col("id") % 1000000 % 10) < 2), "id", "text",
      shingleLen = 3, threshold = 0.5).orderBy("id_a", "id_b"),
    Some(s"""
      WITH ${shingleCtes(s"SELECT * FROM ($corpusSql) WHERE id % 1000000 % 10 < 2", hashBits30 = true, distinct = true)}
      SELECT a.id AS id_a, b.id AS id_b,
        CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
          / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS jaccard
      FROM hs a JOIN hs b ON a.id < b.id
      WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
          / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) >= 0.5
      ORDER BY id_a, id_b
    """.trim)
  )

  /** Prefix-filtered exact Jaccard (PPJoin-family) on the SAME
    * restricted corpus and threshold as `ngram_jaccard` — and the SAME
    * oracle verbatim: the prefix filter must change the candidate
    * volume only, never the answer. */
  val ngramJaccardPrefix: QueryDef = QueryDef(
    "ngram_jaccard_prefix",
    (s, dir) => Dedup.ngramJaccardPrefixPairs(
      corpus(s, dir).filter((col("id") % 1000000 % 10) < 2), "id", "text",
      shingleLen = 3, threshold = 0.5).orderBy("id_a", "id_b"),
    ngramJaccard.oracle
  )

  /** Asymmetric containment on the restricted corpus: the planted tail
    * variants CONTAIN their originals whole (cont_a_in_b = 1.0 while
    * Jaccard < 1) — the quote/excerpt relation the symmetric tier
    * cannot express. */
  val ngramContainment: QueryDef = QueryDef(
    "ngram_containment",
    (s, dir) => Dedup.ngramContainmentPairs(
      corpus(s, dir).filter((col("id") % 1000000 % 10) < 2), "id", "text",
      shingleLen = 3, threshold = 0.9).orderBy("id_a", "id_b"),
    Some(s"""
      WITH ${shingleCtes(s"SELECT * FROM ($corpusSql) WHERE id % 1000000 % 10 < 2", hashBits30 = true, distinct = true)}
      SELECT id_a, id_b, cont_a_in_b, cont_b_in_a FROM (
        SELECT a.id AS id_a, b.id AS id_b,
          CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) / len(a.hs) AS cont_a_in_b,
          CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) / len(b.hs) AS cont_b_in_a
        FROM hs a JOIN hs b ON a.id < b.id)
      WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.9
      ORDER BY id_a, id_b
    """.trim)
  )

  /** LSH-vs-exact evaluation on the restricted corpus: how many true
    * Jaccard-0.6 pairs does the (k=16, bands=4) banding recover? */
  val lshRecall: QueryDef = QueryDef(
    "lsh_recall",
    (s, dir) => Dedup.lshRecallReport(
      corpus(s, dir).filter((col("id") % 1000000 % 10) < 2), "id", "text",
      shingleLen = 3, k = 16, bands = 4, threshold = 0.6),
    Some {
      val restricted = s"SELECT * FROM ($corpusSql) WHERE id % 1000000 % 10 < 2"
      s"""
      WITH ${minhashCtes(restricted)},
      ${shingleCtes(restricted, hashBits30 = true, distinct = true, prefix = "x")},
      ex AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM xhs a JOIN xhs b ON a.id < b.id
        WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
            / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) >= 0.6
      ),
      ls AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.6),
      ne AS (SELECT count(*) AS n_exact FROM ex),
      nl AS (SELECT count(*) AS n_lsh FROM ls),
      nb AS (SELECT count(*) AS n_both FROM ex JOIN ls USING (id_a, id_b))
      SELECT n_exact, n_lsh, n_both,
        CAST(${TextFunctions.ratioScaledSql("n_both", "greatest(n_exact, 1)", 1000000000L)} AS DOUBLE) / 1e9 AS recall,
        CAST(${TextFunctions.ratioScaledSql("n_both", "greatest(n_lsh, 1)", 1000000000L)} AS DOUBLE) / 1e9 AS precision
      FROM ne CROSS JOIN nl CROSS JOIN nb
      """.trim
    }
  )

  /** The df-capped exact tier over the FULL planted corpus (no input
    * restriction — the cap is what makes that safe): shingles in more
    * than `maxDf` docs are dropped before the inverted-index join, and
    * jaccard is computed over the capped sets, row-level. */
  val ngramJaccardCapped: QueryDef = QueryDef(
    "ngram_jaccard_capped",
    (s, dir) => Dedup.ngramJaccardPairsCapped(corpus(s, dir), "id", "text",
      shingleLen = 3, threshold = 0.5, maxDf = 8).orderBy("id_a", "id_b"),
    Some(s"""
      WITH ${shingleCtes(corpusSql, hashBits30 = false, distinct = false)},
      ex AS (SELECT DISTINCT id, unnest(hs) AS h FROM hs),
      dfc AS (SELECT h, count(*) AS c FROM ex GROUP BY h),
      keep AS (SELECT ex.id, ex.h FROM ex JOIN dfc ON ex.h = dfc.h WHERE dfc.c <= 8),
      sizes AS (SELECT id, count(*) AS n FROM keep GROUP BY id),
      pc AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS ni
        FROM keep a JOIN keep b ON a.h = b.h AND a.id < b.id
        GROUP BY 1, 2
      )
      SELECT id_a, id_b,
        CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jaccard
      FROM pc JOIN sizes sa ON sa.id = pc.id_a JOIN sizes sb ON sb.id = pc.id_b
      WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5
      ORDER BY id_a, id_b
    """.trim)
  )

  // ---- text analysis --------------------------------------------------

  val textQuality: QueryDef = QueryDef(
    "text_quality",
    (s, dir) => TextAnalysis.quality(tbl(s, dir, "documents"), "doc_id", "text").orderBy("id"),
    Some {
      val metrics = TextAnalysis.qualitySql("text")
        .map { case (name, e) => s"$e AS $name" }.mkString(",\n        ")
      s"SELECT doc_id AS id,\n        $metrics\n      FROM documents ORDER BY id"
    }
  )

  val langId: QueryDef = QueryDef(
    "lang_id",
    (s, dir) => TextAnalysis.langId(tbl(s, dir, "documents"), "doc_id", "text").orderBy("id"),
    Some {
      val (scores, pred) = TextAnalysis.langIdSql("text")
      val scoreExprs = scores.map { case (name, e) => s"$e AS $name" }.mkString(",\n          ")
      s"""
      SELECT id, ${scores.map(_._1).mkString(", ")}, $pred AS pred_lang
      FROM (
        SELECT doc_id AS id,
          $scoreExprs
        FROM documents
      ) ORDER BY id""".trim
    }
  )

  val qualityScore: QueryDef = QueryDef(
    "quality_score",
    (s, dir) => TextAnalysis.hashedQualityScore(tbl(s, dir, "documents"), "doc_id", "text")
      .orderBy("id"),
    Some(s"""
      SELECT doc_id AS id, ${TextAnalysis.hashedQualityScoreSql("text")} AS quality_score
      FROM documents ORDER BY id
    """.trim)
  )

  val tokenCounts: QueryDef = QueryDef(
    "token_counts",
    (s, dir) => TextAnalysis.tokenCounts(tbl(s, dir, "documents"), "doc_id", "text").orderBy("id"),
    Some("""
      SELECT doc_id AS id,
        len(list_filter(regexp_split_to_array(text, ' +'), x -> len(x) > 0)) AS n_ws_tokens,
        len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens
      FROM documents ORDER BY id
    """.trim)
  )

  /** Subword (BPE-style greedy longest-match) token budgets per
    * document — the column training-data pipelines actually budget by;
    * [[Packing.packChunks]] consumes it directly (see `pack_chunks` for
    * the packing gate over the whitespace proxy). */
  val tokenBudget: QueryDef = QueryDef(
    "token_budget",
    (s, dir) => TextAnalysis.bpeTokenCounts(tbl(s, dir, "documents"), "doc_id", "text")
      .orderBy("id"),
    Some(TextAnalysis.bpeTokenCountsSql("SELECT doc_id AS id, text FROM documents")
      + " ORDER BY id")
  )

  val fingerprints: QueryDef = QueryDef(
    "fingerprints",
    // gate projection: the fingerprint array joined to a '|' string —
    // the driver's pandas-side sort cannot handle array cells (operator
    // API keeps the array<bigint>)
    (s, dir) => TextAnalysis.fingerprints(tbl(s, dir, "documents"), "doc_id", "text",
      shingleLen = 3, window = 4)
      .select(col("id"),
        array_join(transform(col("fingerprints"), x => x.cast("string")), "|").as("fingerprints"))
      .orderBy("id"),
    Some(s"""
      WITH ${shingleCtes("SELECT doc_id AS id, text FROM documents", hashBits30 = false, distinct = false)},
      full_ AS (
        SELECT w.id, coalesce(hs.hs, CAST([] AS BIGINT[])) AS hs
        FROM w LEFT JOIN hs ON w.id = hs.id
      )
      SELECT id, array_to_string(list_transform(${TextFunctions.winnowSql("hs", 4)}, x -> CAST(x AS VARCHAR)), '|') AS fingerprints
      FROM full_ ORDER BY id
    """.trim)
  )

  val topTerms: QueryDef = QueryDef(
    "top_terms",
    (s, dir) => TextAnalysis.topTerms(
      tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")), "id", "text", 50),
    Some(s"""
      WITH uw AS (
        SELECT doc_id AS id, unnest(${TextFunctions.wordsSql("text")}) AS word FROM documents
      )
      SELECT word, count(*) AS n_occurrences, count(DISTINCT id) AS n_docs
      FROM uw GROUP BY word ORDER BY n_occurrences DESC, word LIMIT 50
    """.trim)
  )

  val repetition: QueryDef = QueryDef(
    "repetition",
    (s, dir) => TextAnalysis.repetition(
      tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")), "id", "text")
      .orderBy("id"),
    Some(s"""
      WITH ${TextAnalysis.repetitionCtes("SELECT doc_id AS id, text FROM documents")}
      SELECT id, top_word_frac, top_bigram_frac, ttr FROM rep ORDER BY id
    """.trim)
  )

  /** PII scrubbing over documents with PLANTED matches (the synthetic
    * corpus contains none): every 10th doc gains an email + IPv4,
    * every 15th an SSN-shaped id. Redacted text is compared via md5. */
  val piiRedact: QueryDef = QueryDef(
    "pii_redact",
    (s, dir) => {
      val planted = tbl(s, dir, "documents").select(
        col("doc_id").as("id"),
        concat(col("text"),
          when(col("doc_id") % 10 === 0,
            lit(" contact alice.smith@example.com from 10.0.0.1")).otherwise(lit("")),
          when(col("doc_id") % 15 === 0, lit(" ref 123-45-6789")).otherwise(lit(""))).as("text"))
      TextAnalysis.redactPii(planted, "id", "text")
        .select(col("id"), col("n_email"), col("n_ssn"), col("n_ip"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("id")
    },
    Some {
      val exprs = TextAnalysis.redactPiiSql("text").toMap
      s"""
      WITH planted AS (
        SELECT doc_id AS id,
          text
            || (CASE WHEN doc_id % 10 = 0 THEN ' contact alice.smith@example.com from 10.0.0.1' ELSE '' END)
            || (CASE WHEN doc_id % 15 = 0 THEN ' ref 123-45-6789' ELSE '' END) AS text
        FROM documents
      )
      SELECT id, ${exprs("n_email")} AS n_email, ${exprs("n_ssn")} AS n_ssn,
        ${exprs("n_ip")} AS n_ip, md5(${exprs("redacted")}) AS redacted_md5
      FROM planted ORDER BY id
      """.trim
    }
  )

  /** Checksum-validated card redaction: every third doc carries a
    * Luhn-VALID card number (separator style alternating space/dash),
    * every third+1 an invalid same-shape number that must survive
    * unredacted — the false-positive class regex-only scanners kill.
    * The oracle recomputes Luhn digit-by-digit in SQL. */
  val piiLuhn: QueryDef = QueryDef(
    "pii_luhn",
    (s, dir) => {
      val planted = tbl(s, dir, "documents").select(
        col("doc_id").as("id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            when(col("doc_id") % 2 === 0, lit(" pay 4111 1111 1111 1111 now"))
              .otherwise(lit(" pay 4111-1111-1111-1111 now")))
            .when(col("doc_id") % 3 === 1, lit(" ref 4111 1111 1111 1112 order"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.redactCreditCards(planted, "id", "text")
        .select(col("id"), col("n_cc_valid"), col("n_cc_invalid"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("id")
    },
    Some {
      val exprs = TextAnalysis.redactCreditCardsSql("text").toMap
      s"""
      WITH planted AS (
        SELECT doc_id AS id,
          text || (CASE WHEN doc_id % 3 = 0 THEN
                     (CASE WHEN doc_id % 2 = 0 THEN ' pay 4111 1111 1111 1111 now'
                           ELSE ' pay 4111-1111-1111-1111 now' END)
                   WHEN doc_id % 3 = 1 THEN ' ref 4111 1111 1111 1112 order'
                   ELSE '' END) AS text
        FROM documents
      )
      SELECT id, ${exprs("n_cc_valid")} AS n_cc_valid,
        ${exprs("n_cc_invalid")} AS n_cc_invalid,
        md5(${exprs("redacted")}) AS redacted_md5
      FROM planted ORDER BY id
      """.trim
    }
  )

  /** HTML→text over documents wrapped in PLANTED markup (tags, a
    * script whose body contains a bare `<`, a style block, entities
    * incl. a double-encoded one) — compared via md5 of the clean text. */
  val htmlStrip: QueryDef = QueryDef(
    "html_strip",
    (s, dir) => {
      val planted = tbl(s, dir, "documents").select(col("doc_id").as("id"),
        concat(lit("<html><body class=\"main\"><p>"), col("text"),
          lit("</p><script type=\"text/javascript\">var x = 1 < 2;</script>" +
            "<style>.a { color: red; }</style> &amp;amp; tail &lt;tag&gt;")).as("text"))
      TextAnalysis.stripHtml(planted, "id", "text")
        .select(col("id"), md5(col("text_clean")).as("clean_md5"))
        .orderBy("id")
    },
    Some(s"""
      WITH planted AS (
        SELECT doc_id AS id,
          '<html><body class="main"><p>' || text || '</p><script type="text/javascript">var x = 1 < 2;</script><style>.a { color: red; }</style> &amp;amp; tail &lt;tag&gt;' AS text
        FROM documents
      )
      SELECT id, md5(${TextAnalysis.stripHtmlSql("text")}) AS clean_md5
      FROM planted ORDER BY id
    """.trim)
  )

  // planted crawl page per document: script/title chrome, nav links, a
  // heading, the doc's text as the article body plus a short tail and a
  // second long synthetic paragraph, then share bar + footer — every
  // class transition the block classifier has to navigate
  private val boilerHead =
    "<html><head><script>var x = 1 < 2;</script><title>page title</title></head><body>" +
      "<nav><ul><li><a href=\"/\">Home</a></li><li><a href=\"/about\">About us</a></li></ul></nav>" +
      "<h1>Notes for the day</h1><p>"
  private val boilerTail =
    "</p><p>Read more.</p>" +
      "<p>The second paragraph of the story is longer and it is full of the usual words, and " +
      "the words keep coming in a steady stream of the kind a reader expects to see in the " +
      "middle of a real article about the topic of the day.</p>" +
      "<div><a href=\"#\">Share</a> <a href=\"#\">Tweet</a> <a href=\"#\">Pin</a></div>" +
      "<footer><p><a href=\"/privacy\">Privacy</a> | <a href=\"/terms\">Terms</a> | copyright</p></footer>" +
      "</body></html>"

  private def boilerPlanted(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(col("doc_id").as("id"),
      concat(lit(boilerHead), col("text"), lit(boilerTail)).as("html"))

  private val boilerPlantedSql: String =
    s"""SELECT doc_id AS id, '${boilerHead.replace("'", "''")}' || text || '${boilerTail.replace("'", "''")}' AS html
        FROM documents""".linesIterator.map(_.trim).mkString(" ")

  /** Block-level boilerplate classification ([[graft.operators.Boilerplate]]):
    * jusText-family context-free class + two-stage smoothing over every
    * planted crawl page. The oracle replays split, features, thresholds
    * (exact integer comparisons) and both window passes in DuckDB. */
  val boilerplateBlocks: QueryDef = QueryDef(
    "boilerplate_blocks",
    (s, dir) => graft.operators.Boilerplate.blocks(boilerPlanted(s, dir), "id", "html")
      .select(col("id"), col("ord"), col("n_words"), col("n_link_words"),
        col("n_stop_words"), col("cls0"), col("cls"), md5(col("text")).as("text_md5"))
      .orderBy("id", "ord"),
    Some(s"""
      WITH src AS ($boilerPlantedSql),
      ${graft.operators.Boilerplate.blocksSql("src")}
      SELECT id, ord, n_words, n_link_words, n_stop_words, cls0, cls, md5(text) AS text_md5
      FROM blocks ORDER BY id, ord
    """.trim)
  )

  /** Main-content extraction: good blocks re-joined in document order —
    * the text the downstream dedup/quality tiers should actually see.
    * Chrome (nav/share/footer text) must be absent from the digest. */
  val mainContentQ: QueryDef = QueryDef(
    "main_content",
    (s, dir) => graft.operators.Boilerplate.mainContent(boilerPlanted(s, dir), "id", "html")
      .select(col("id"), col("n_blocks"), col("n_good"), col("main_words"),
        md5(col("main_text")).as("main_md5"))
      .orderBy("id"),
    Some(s"""
      WITH src AS ($boilerPlantedSql),
      ${graft.operators.Boilerplate.blocksSql("src")},
      ${graft.operators.Boilerplate.mainContentSql}
      SELECT id, n_blocks, n_good, main_words, md5(main_text) AS main_md5
      FROM main ORDER BY id
    """.trim)
  )

  private val splitSpec = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  val hashSplit: QueryDef = QueryDef(
    "hash_split",
    (s, dir) => graft.operators.Splits.hashSplit(
      tbl(s, dir, "documents").select(col("doc_id").as("id")), "id", splitSpec)
      .orderBy("id"),
    Some(s"""
      SELECT doc_id AS id, ${graft.operators.Splits.hashSplitSql("doc_id", splitSpec)} AS split
      FROM documents ORDER BY id
    """.trim)
  )

  /** Per-language corpus statistics with EXACT percentiles: the report
    * relation behind curation dashboards. avg is stated as the explicit
    * exact-integer-sum division (engine-identical); percentiles use the
    * linear-interpolation definition both engines implement
    * (`percentile` / `quantile_cont`), rounded like the cosine tiers. */
  /** Zipf's-law fit: the corpus-distribution fingerprint, exact
    * integer regression over the top-300 term frequencies. */
  val zipfFitQ: QueryDef = QueryDef(
    "zipf_fit",
    (s, dir) => TextAnalysis.zipfFit(tbl(s, dir, "documents"), "text", topK = 300),
    Some(TextAnalysis.zipfFitSql("SELECT text FROM documents", 300).trim)
  )

  val corpusStats: QueryDef = QueryDef(
    "corpus_stats",
    (s, dir) => tbl(s, dir, "documents")
      .select(col("lang"), size(TextFunctions.words(col("text"))).as("nw"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nw")).as("total_words"),
        (sum(col("nw")).cast("double") / count(lit(1)).cast("double")).as("avg_words"),
        round(expr("percentile(nw, 0.5)"), 9).as("p50_words"),
        round(expr("percentile(nw, 0.95)"), 9).as("p95_words"))
      .orderBy("lang"),
    Some(s"""
      WITH w AS (SELECT lang, len(${TextFunctions.wordsSql("text")}) AS nw FROM documents)
      SELECT lang, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS total_words,
        CAST(CAST(sum(nw) AS BIGINT) AS DOUBLE) / count(*) AS avg_words,
        round(quantile_cont(nw, 0.5), 9) AS p50_words,
        round(quantile_cont(nw, 0.95), 9) AS p95_words
      FROM w GROUP BY lang ORDER BY lang
    """.trim)
  )

  /** Longest-shared-token-run pairs over the planted-tail corpus (each
    * planted variant shares its entire base document verbatim — a long
    * run even where whole-document similarity could be low). Restricted
    * input, like the other exact ground-truth tier. */
  val commonSpans: QueryDef = QueryDef(
    "common_spans",
    (s, dir) => Dedup.commonSpanPairs(
      corpus(s, dir).filter((col("id") % 1000000 % 10) < 2), "id", "text",
      shingleLen = 3, minRunTokens = 20).orderBy("id_a", "id_b"),
    Some(s"""
      WITH ${shingleCtes(s"SELECT * FROM ($corpusSql) WHERE id % 1000000 % 10 < 2", hashBits30 = false, distinct = false)},
      px0 AS (SELECT id, hs, unnest(generate_series(1, len(hs))) AS pos FROM hs),
      px AS (SELECT id, pos, hs[pos] AS h FROM px0),
      cd AS (
        SELECT a.id AS id_a, b.id AS id_b, a.pos AS pa, a.pos - b.pos AS d
        FROM px a JOIN px b ON a.h = b.h AND a.id < b.id
      ),
      rn AS (
        SELECT id_a, id_b, d, pa,
          pa - row_number() OVER (PARTITION BY id_a, id_b, d ORDER BY pa) AS isl
        FROM cd
      ),
      runs AS (SELECT id_a, id_b, count(*) AS run FROM rn GROUP BY id_a, id_b, d, isl)
      SELECT id_a, id_b, max(run) + 2 AS max_run_tokens
      FROM runs GROUP BY id_a, id_b HAVING max(run) + 2 >= 20
      ORDER BY id_a, id_b
    """.trim)
  )

  /** Shared CTE chain replaying [[Dedup.exactSubstrSpans]] at L=8 over
    * the planted corpus: positional L-gram hashes → ≥2-occurrence
    * anchors → per-doc same-length interval merge (lag-break + running
    * sum — ends are monotone in starts, no running max needed). */
  private def exactSubstrCtes(input: String, L: Int): String =
    s"""w AS (SELECT id, list_filter(regexp_split_to_array(text, ' +'), x -> len(x) > 0) AS ws FROM ($input)),
      g0 AS (SELECT id, ws, unnest(generate_series(1, len(ws) - ${L - 1})) AS i FROM w WHERE len(ws) >= $L),
      g AS (SELECT id, i - 1 AS pos,
        CAST('0x' || substr(md5(array_to_string(ws[i:i+${L - 1}], ' ')), 1, 15) AS BIGINT) AS h FROM g0),
      dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
      hit AS (SELECT g.id, g.pos FROM g JOIN dup USING (h)),
      brk AS (SELECT id, pos,
        CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > $L THEN 1 ELSE 0 END AS b
        FROM hit),
      isl AS (SELECT id, pos, sum(b) OVER (PARTITION BY id ORDER BY pos) AS isl FROM brk),
      spans AS (SELECT id, min(pos) AS span_start, max(pos) + ${L - 1} AS span_end
        FROM isl GROUP BY id, isl)"""

  /** ExactSubstr (Lee et al. ACL'22) removal spans: every maximal
    * per-doc token range covered by ≥ 8-token substrings that repeat
    * anywhere in the corpus. The planted variants (id+1M, tail
    * appended) duplicate their base doc wholesale, so both members of
    * each pair grow a near-full-doc span; natural cross-doc repeats
    * add more. The oracle replays anchors + merge independently. */
  val exactSubstrSpansQ: QueryDef = QueryDef(
    "exact_substr_spans",
    (s, dir) => Dedup.exactSubstrSpans(corpus(s, dir), "id", "text", minTokens = 8)
      .orderBy("id", "span_start"),
    Some(s"""
      WITH ${exactSubstrCtes(corpusSql, 8)}
      SELECT id, span_start, span_end, span_end - span_start + 1 AS span_tokens
      FROM spans ORDER BY id, span_start
    """.trim)
  )

  /** The ExactSubstr REWRITE over the same corpus: covered tokens
    * dropped, survivors rejoined — every doc survives (possibly
    * emptied). The oracle rebuilds via explode + span anti-join, a
    * deliberately DIFFERENT mechanism from the engine's map-side
    * indexed array filter. */
  val exactSubstrDedupQ: QueryDef = QueryDef(
    "exact_substr_dedup",
    (s, dir) => Dedup.exactSubstrDedup(corpus(s, dir), "id", "text", minTokens = 8)
      .orderBy("id"),
    Some(s"""
      WITH ${exactSubstrCtes(corpusSql, 8)},
      t0 AS (SELECT id, ws, unnest(generate_series(1, len(ws))) AS i FROM w),
      tok AS (SELECT id, i - 1 AS p, ws[i] AS t FROM t0),
      keep AS (
        SELECT tok.id, tok.p, tok.t FROM tok
        LEFT JOIN spans s ON tok.id = s.id AND tok.p BETWEEN s.span_start AND s.span_end
        WHERE s.span_start IS NULL),
      kept AS (SELECT id, string_agg(t, ' ' ORDER BY p) AS text_clean FROM keep GROUP BY id),
      rm AS (SELECT id, sum(span_end - span_start + 1) AS n_removed FROM spans GROUP BY id)
      SELECT w.id AS id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
        CAST(coalesce(rm.n_removed, 0) AS BIGINT) AS n_removed,
        coalesce(k.text_clean, '') AS text_clean
      FROM w LEFT JOIN rm ON rm.id = w.id LEFT JOIN kept k ON k.id = w.id
      ORDER BY id
    """.trim)
  )

  /** Per-doc novelty/memorization-risk score over the planted corpus:
    * planted variants (sharing their base doc verbatim) collapse
    * toward 0; the anchor rule is shared with `exact_substr_spans`.
    * Short docs (< 8 tokens) emit the (0, 0, 1e6) contract row. */
  val noveltyScoreQ: QueryDef = QueryDef(
    "novelty_score",
    (s, dir) => Dedup.noveltyScore(corpus(s, dir), "id", "text", minTokens = 8)
      .orderBy("id"),
    Some(s"""
      WITH ${exactSubstrCtes(corpusSql, 8)},
      cnt AS (SELECT h, count(*) AS c FROM g GROUP BY h),
      pd AS (
        SELECT g.id, count(*) AS n_grams,
          CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        FROM g JOIN cnt USING (h) GROUP BY g.id)
      SELECT w.id AS id,
        coalesce(pd.n_grams, 0) AS n_grams,
        coalesce(pd.n_dup, 0) AS n_dup_grams,
        1000000 - ${graft.functions.TextFunctions.ratioScaledSql(
          "coalesce(pd.n_dup, 0)",
          "greatest(coalesce(pd.n_grams, 0), 1)", 1000000L)} AS novelty_micro
      FROM w LEFT JOIN pd ON pd.id = w.id
      ORDER BY id
    """.trim)
  )

  /** Merkle dataset manifest root over (id, text): partitioning- and
    * row-order-independent, engine-independent — the reproducibility
    * pin two sites compare instead of shipping the corpus. */
  val merkleRootQ: QueryDef = QueryDef(
    "merkle_root",
    (s, dir) => graft.operators.Integrity.merkleRoot(
      tbl(s, dir, "documents")
        .select(col("doc_id").cast("string").as("c0"), col("text").as("c1")),
      Seq("c0", "c1"), buckets = 64),
    Some(s"""
      WITH ${graft.operators.Integrity.merkleBucketsSql(
        "SELECT CAST(doc_id AS VARCHAR) AS c0, text AS c1 FROM documents", 2, 64)}
      SELECT md5(string_agg(bucket_hash, chr(10) ORDER BY bucket)) AS root_hash,
        CAST(sum(n_rows) AS BIGINT) AS n_rows, count(*) AS n_buckets
      FROM mkbk
    """.trim)
  )

  /** Manifest DIFF: corpus A vs a tampered B (every 97th doc's text
    * modified, every 101st dropped) — the differing buckets localize
    * without any row-level join between the datasets. */
  val merkleDiffQ: QueryDef = QueryDef(
    "merkle_diff",
    (s, dir) => {
      val a = tbl(s, dir, "documents")
        .select(col("doc_id").cast("string").as("c0"), col("text").as("c1"))
      val b = tbl(s, dir, "documents")
        .filter(col("doc_id") % 101 =!= 0)
        .select(col("doc_id").cast("string").as("c0"),
          when(col("doc_id") % 97 === 0, concat(col("text"), lit(" tampered")))
            .otherwise(col("text")).as("c1"))
      graft.operators.Integrity.merkleDiff(a, b, Seq("c0", "c1"), buckets = 64).orderBy("bucket")
    },
    Some {
      val aIn = "SELECT CAST(doc_id AS VARCHAR) AS c0, text AS c1 FROM documents"
      val bIn = """SELECT CAST(doc_id AS VARCHAR) AS c0,
        CASE WHEN doc_id % 97 = 0 THEN text || ' tampered' ELSE text END AS c1
        FROM documents WHERE doc_id % 101 <> 0"""
      s"""
      WITH ${graft.operators.Integrity.merkleBucketsSql(aIn, 2, 64, "ma")},
      ${graft.operators.Integrity.merkleBucketsSql(bIn, 2, 64, "mb")}
      SELECT coalesce(a.bucket, b.bucket) AS bucket,
        CASE WHEN a.bucket IS NULL THEN 'only_b'
             WHEN b.bucket IS NULL THEN 'only_a'
             ELSE 'changed' END AS status,
        coalesce(a.n_rows, 0) AS n_rows_a,
        coalesce(b.n_rows, 0) AS n_rows_b
      FROM mabk a FULL JOIN mbbk b ON a.bucket = b.bucket
      WHERE a.bucket IS NULL OR b.bucket IS NULL OR a.bucket_hash <> b.bucket_hash
      ORDER BY bucket
      """.trim
    }
  )

  /** Avro OCF ingest: per doc a REAL Object Container File (writer
    * schema embedded, null codec) holding 1–4 records; every 50th
    * payload truncated to exercise the per-file quarantine. The gate
    * compares field values arithmetically and the quarantine flag
    * structurally (exception text is engine-specific, so the boolean
    * is the contract). */
  val avroIngest: QueryDef = QueryDef(
    "avro_ingest",
    (s, dir) => {
      import s.implicits._
      val schemaJson =
        """{"type":"record","name":"r","fields":[
           {"name":"seq","type":"long"},
           {"name":"name","type":"string"},
           {"name":"qty","type":"long"}]}""".replaceAll("\n\\s*", "")
      val items = tbl(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id")).map { r =>
          val did = r.getLong(0)
          val n = 1 + (did % 4).toInt
          val rows = (0 until n).map(i => Map[String, Any](
            "seq" -> (did * 10 + i), "name" -> s"n${(did + i) % 7}",
            "qty" -> (did % 9 + i)))
          val bytes = graft.sources.Avro.encodeAvro(schemaJson, rows)
          graft.sources.Avro.AvroFile(did,
            if (did % 50 == 0) bytes.take(10) else bytes)
        }
      graft.sources.Avro.records(items, Seq("seq", "name", "qty"))
        .select(col("id"), col("rec_index"),
          col("seq").cast("long").as("seq"), col("name"),
          col("qty").cast("long").as("qty"),
          col("error").isNotNull.as("quarantined"))
        .orderBy("id", "rec_index")
    },
    Some("""
      WITH base AS (
        SELECT doc_id AS id, unnest(generate_series(0, doc_id % 4)) AS i
        FROM documents WHERE doc_id < 200),
      good AS (
        SELECT id, i AS rec_index, id * 10 + i AS seq,
          'n' || CAST((id + i) % 7 AS VARCHAR) AS name,
          id % 9 + i AS qty, false AS quarantined
        FROM base WHERE id % 50 <> 0),
      bad AS (
        SELECT doc_id AS id, CAST(-1 AS BIGINT) AS rec_index,
          CAST(NULL AS BIGINT) AS seq, CAST(NULL AS VARCHAR) AS name,
          CAST(NULL AS BIGINT) AS qty, true AS quarantined
        FROM documents WHERE doc_id < 200 AND doc_id % 50 = 0)
      SELECT * FROM good UNION ALL SELECT * FROM bad ORDER BY id, rec_index
    """.trim)
  )

  /** Shared SFT conversation corpus: per doc a JSON chat with an even
    * alternating body (2/4/6 turns), every 5th with a leading system
    * turn, every 7th BROKEN (double-user at body position 1), every
    * 11th MALFORMED (closing bracket truncated — parses to null). */
  private def sftConvos(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tbl(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id")).map { r =>
        val did = r.getLong(0)
        val n = 2 + 2 * (did % 3).toInt
        val sys = did % 5 == 0
        val broken = did % 7 == 0
        val turns = (if (sys) Seq(("system", s"sys $did")) else Seq.empty) ++
          (0 until n).map { i =>
            val role = if (broken && i == 1) "user"
                       else if (i % 2 == 0) "user" else "assistant"
            (role, Seq.fill(1 + ((did + i) % 5).toInt)("w").mkString(" "))
          }
        val json = turns.map { case (ro, c) => s"""{"role":"$ro","content":"$c"}""" }
          .mkString("[", ",", "]")
        (did, if (did % 11 == 0) json.dropRight(1) else json)
      }.toDF("id", "convo")
  }

  /** Chat corpus flattened to the turn relation; malformed convos
    * contribute zero rows here (they surface in `sft_check`). */
  val sftTurns: QueryDef = QueryDef(
    "sft_turns",
    (s, dir) => graft.operators.Sft.flattenTurns(sftConvos(s, dir), "id", "convo")
      .orderBy("id", "turn_no"),
    Some("""
      WITH base AS (
        SELECT doc_id AS id, 2 + 2 * (doc_id % 3) AS n,
          doc_id % 5 = 0 AS sys, doc_id % 7 = 0 AS broken
        FROM documents WHERE doc_id < 300 AND doc_id % 11 <> 0),
      sysrows AS (
        SELECT id, CAST(0 AS BIGINT) AS turn_no, 'system' AS role,
          'sys ' || CAST(id AS VARCHAR) AS content, CAST(2 AS BIGINT) AS n_words
        FROM base WHERE sys),
      bi AS (SELECT id, n, sys, broken, unnest(generate_series(0, n - 1)) AS i FROM base),
      body AS (
        SELECT id, CAST(CASE WHEN sys THEN i + 1 ELSE i END AS BIGINT) AS turn_no,
          CASE WHEN broken AND i = 1 THEN 'user'
               WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
          rtrim(repeat('w ', CAST(1 + (id + i) % 5 AS INT))) AS content,
          CAST(1 + (id + i) % 5 AS BIGINT) AS n_words
        FROM bi)
      SELECT id, turn_no, role, content, n_words FROM sysrows
      UNION ALL SELECT id, turn_no, role, content, n_words FROM body
      ORDER BY id, turn_no
    """.trim)
  )

  /** Chat-contract verdicts over the same corpus: malformed JSON,
    * broken alternation, and clean convos each land their exact
    * (parse_ok, n_turns, has_system, valid) row. */
  val sftCheck: QueryDef = QueryDef(
    "sft_check",
    (s, dir) => graft.operators.Sft.conversationCheck(sftConvos(s, dir), "id", "convo")
      .orderBy("id"),
    Some("""
      SELECT doc_id AS id,
        doc_id % 11 <> 0 AS parse_ok,
        CAST(CASE WHEN doc_id % 11 = 0 THEN -1
             ELSE 2 + 2 * (doc_id % 3) + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
             END AS BIGINT) AS n_turns,
        doc_id % 11 <> 0 AND doc_id % 5 = 0 AS has_system,
        doc_id % 11 <> 0 AND doc_id % 7 <> 0 AS valid
      FROM documents WHERE doc_id < 300 ORDER BY id
    """.trim)
  )

  /** Preference pairs over a synthetic reward table: ~12 responses
    * per prompt, deterministic scores; the oracle replays both
    * row_number extremes and the gap filter. */
  val prefPairs: QueryDef = QueryDef(
    "pref_pairs",
    (s, dir) => graft.operators.Sft.preferencePairs(
      tbl(s, dir, "documents").select(
        concat(lit("p"), col("doc_id") % 40).as("prompt"),
        col("doc_id").as("rid"),
        ((col("doc_id") * 7) % 100).as("score")),
      "prompt", "rid", "score", minGap = 10L)
      .orderBy("prompt"),
    Some("""
      WITH r AS (
        SELECT 'p' || CAST(doc_id % 40 AS VARCHAR) AS prompt, doc_id AS rid,
          (doc_id * 7) % 100 AS score
        FROM documents),
      rk AS (
        SELECT prompt, rid, score,
          row_number() OVER (PARTITION BY prompt ORDER BY score DESC, rid) AS rb,
          row_number() OVER (PARTITION BY prompt ORDER BY score ASC, rid) AS rw
        FROM r),
      b AS (SELECT prompt, rid AS chosen_id, score AS chosen_score FROM rk WHERE rb = 1),
      w AS (SELECT prompt, rid AS rejected_id, score AS rejected_score FROM rk WHERE rw = 1)
      SELECT b.prompt AS prompt, chosen_id, rejected_id, chosen_score, rejected_score,
        chosen_score - rejected_score AS gap
      FROM b JOIN w ON b.prompt = w.prompt
      WHERE chosen_id <> rejected_id AND chosen_score - rejected_score >= 10
      ORDER BY prompt
    """.trim)
  )

  /** FIM splits: hash-derived cut points, PSM rendering — transform
    * reproducible run-to-run; oracle replays cuts + substrings. */
  val fimSplitQ: QueryDef = QueryDef(
    "fim_split",
    (s, dir) => graft.operators.Pretrain.fimSplit(
      tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")),
      "id", "text").orderBy("id"),
    Some(s"""${graft.operators.Pretrain.fimSplitSql(
        "SELECT doc_id AS id, text FROM documents").trim}
      ORDER BY id""")
  )

  /** ICT retrieval pairs: hash-chosen 8-token query window vs the
    * remainder context; short docs yield no pair. */
  val ictPairsQ: QueryDef = QueryDef(
    "ict_pairs",
    (s, dir) => graft.operators.Pretrain.ictPairs(
      tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")),
      "id", "text", windowTokens = 8).orderBy("id"),
    Some(s"""${graft.operators.Pretrain.ictPairsSql(
        "SELECT doc_id AS id, text FROM documents", 8).trim}
      ORDER BY id""")
  )

  /** Code-quality signal battery over a synthesized "source file"
    * corpus (one word per line; every 3rd doc gets comment headers,
    * every 7th an autogen marker) — both engines construct the same
    * text, then compute the signals independently. */
  val codeQualityQ: QueryDef = QueryDef(
    "code_quality",
    (s, dir) => {
      val planted = tbl(s, dir, "documents").select(
        col("doc_id").as("id"),
        concat(
          when(col("doc_id") % 3 === 0, lit("// header comment\n# note\n")).otherwise(lit("")),
          regexp_replace(col("text"), " ", "\n"),
          when(col("doc_id") % 7 === 0, lit("\ny = 1 ;; Generated by tool")).otherwise(lit(""))
        ).as("code"))
      graft.operators.CodeQuality.signals(planted, "id", "code").orderBy("id")
    },
    Some {
      val exprs = graft.operators.CodeQuality.signalsSql("code").toMap
      s"""
      WITH planted AS (
        SELECT doc_id AS id,
          (CASE WHEN doc_id % 3 = 0 THEN '// header comment' || chr(10) || '# note' || chr(10) ELSE '' END)
          || replace(text, ' ', chr(10))
          || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'y = 1 ;; Generated by tool' ELSE '' END) AS code
        FROM documents)
      SELECT id, ${exprs("n_lines")} AS n_lines, ${exprs("max_line_len")} AS max_line_len,
        ${exprs("avg_line_len")} AS avg_line_len, ${exprs("comment_micro")} AS comment_micro,
        ${exprs("alnum_micro")} AS alnum_micro, ${exprs("autogen")} AS autogen
      FROM planted ORDER BY id
      """.trim
    }
  )

  /** HTML tables → cell relation: per doc a real <table> with
    * id-dependent shape plus surrounding non-table markup; the oracle
    * reconstructs the cells ARITHMETICALLY from the construction rule
    * (no HTML parsing on the oracle side). */
  val htmlTablesQ: QueryDef = QueryDef(
    "html_tables",
    (s, dir) => {
      import s.implicits._
      val pages = tbl(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id")).map { r =>
          val did = r.getLong(0)
          val nr = 1 + (did % 3).toInt
          val nc = 2 + (did % 2).toInt
          val rows = (0 until nr).map { ri =>
            val cells = (0 until nc).map(ci => s"<td> c${ri}_${ci}_$did </td>").mkString
            s"<tr>$cells</tr>"
          }.mkString
          (did, s"<html><p>preamble $did</p><table>$rows</table><div>tail</div></html>")
        }.toDF("id", "html")
      TextAnalysis.htmlTables(pages, "id", "html").orderBy("id", "row_no", "col_no")
    },
    Some("""
      WITH base AS (
        SELECT doc_id AS id, 1 + doc_id % 3 AS nr, 2 + doc_id % 2 AS nc
        FROM documents WHERE doc_id < 300),
      r AS (SELECT id, nc, unnest(generate_series(0, nr - 1)) AS row_no FROM base),
      c AS (SELECT id, row_no, unnest(generate_series(0, nc - 1)) AS col_no FROM r)
      SELECT id, row_no, col_no,
        'c' || CAST(row_no AS VARCHAR) || '_' || CAST(col_no AS VARCHAR) || '_' || CAST(id AS VARCHAR) AS cell
      FROM c ORDER BY id, row_no, col_no
    """.trim)
  )

  /** TF-IDF top-3 salient terms per document. */
  val tfidfTerms: QueryDef = QueryDef(
    "tfidf_terms",
    (s, dir) => TextAnalysis.tfidfTopTerms(
      tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")), "id", "text", 3)
      .orderBy("id", "rank"),
    Some(s"""
      WITH ${TextAnalysis.tfidfCtes("SELECT doc_id AS id, text FROM documents")}
      SELECT id, word, tf, score, rank FROM tfr WHERE rank <= 3 ORDER BY id, rank
    """.trim)
  )

  /** Concat-and-chunk sequence packing of the word-token counts into
    * 512-token training sequences, grouped by the deterministic
    * train/val/test split (the window distributes per group). */
  val packChunks: QueryDef = QueryDef(
    "pack_chunks",
    (s, dir) => {
      val toks = tbl(s, dir, "documents").select(
        col("doc_id").as("id"),
        size(TextFunctions.words(col("text"))).as("t"))
      Packing.packChunks(Splits.hashSplit(toks, "id", splitSpec), "id", "t",
        budget = 512, groupCol = "split")
        .orderBy("group", "id")
    },
    Some(
      Packing.packChunksSql(
        s"""SELECT ${Splits.hashSplitSql("doc_id", splitSpec)} AS g, doc_id AS id,
            len(${TextFunctions.wordsSql("text")}) AS t FROM documents""",
        budget = 512) + """ ORDER BY "group", id""")
  )

  /** [[Packing.packChunks]] at its scaladoc's documented scale shape:
    * the pack group is split × 16 hash-shards, so the per-group window
    * sort distributes 48-way instead of 3-way (pack_chunks keys on the
    * 3-value split alone, bounding measured parallelism at 3 — fine for
    * the semantics gate, wrong as the 100 TB shape). Sharding is
    * content-addressed ([[Splits.bucket]] with its own salt), so
    * assignments stay stable under re-runs and dataset growth, and the
    * DuckDB twin replays the identical group key. Offsets are
    * per-(split, shard) streams — the oracle recomputes them per shard
    * with the same window. */
  val packChunksSharded: QueryDef = QueryDef(
    "pack_chunks_sharded",
    (s, dir) => {
      val toks = tbl(s, dir, "documents").select(
        col("doc_id").as("id"),
        size(TextFunctions.words(col("text"))).as("t"))
      val sharded = Splits.hashSplit(toks, "id", splitSpec)
        .withColumn("pack_group", concat_ws("/", col("split"),
          (Splits.bucket(col("id"), "pack") % 16).cast("string")))
      Packing.packChunks(sharded, "id", "t", budget = 512, groupCol = "pack_group")
        .orderBy("group", "id")
    },
    Some(
      Packing.packChunksSql(
        s"""SELECT ${Splits.hashSplitSql("doc_id", splitSpec)} || '/' ||
              CAST(${Splits.bucketSql("doc_id", "pack")} % 16 AS VARCHAR) AS g,
            doc_id AS id, len(${TextFunctions.wordsSql("text")}) AS t FROM documents""",
        budget = 512) + """ ORDER BY "group", id""")
  )

  /** Stratified content-addressed sampling: downsample the train tier
    * hard, keep half of val, all of test — the skew-rebalancing move. */
  private val stratSpec = Seq("train" -> 0.05, "val" -> 0.5, "test" -> 1.0)

  val stratifiedSample: QueryDef = QueryDef(
    "stratified_sample",
    (s, dir) => Splits.stratifiedSample(
      Splits.hashSplit(tbl(s, dir, "documents").select(col("doc_id").as("id")), "id", splitSpec),
      "id", "split", stratSpec).orderBy("id"),
    Some(s"""
      WITH d AS (SELECT doc_id AS id, ${Splits.hashSplitSql("doc_id", splitSpec)} AS split FROM documents)
      SELECT id, split FROM d WHERE ${Splits.stratifiedSampleSql("id", "split", stratSpec)} ORDER BY id
    """.trim)
  )

  /** Target-mix rebalancing: force the 90/5/5 split distribution to a
    * 50/25/25 OUTPUT composition — output size set by the scarcest
    * group, every realized share matching the target. */
  private val mixSpec = Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25)

  val targetMix: QueryDef = QueryDef(
    "target_mix",
    (s, dir) => Splits.targetMixSample(
      Splits.hashSplit(tbl(s, dir, "documents").select(col("doc_id").as("id")), "id", splitSpec),
      "id", "split", mixSpec).orderBy("id"),
    Some(
      Splits.targetMixSampleSql(
        s"SELECT doc_id AS id, ${Splits.hashSplitSql("doc_id", splitSpec)} AS split FROM documents",
        "id", "split", mixSpec) + " ORDER BY id")
  )

  val docSample: QueryDef = QueryDef(
    "doc_sample",
    (s, dir) => graft.operators.Splits.sampleFraction(
      tbl(s, dir, "documents").select(col("doc_id").as("id")), "id", 0.2)
      .orderBy("id"),
    Some(s"""
      SELECT doc_id AS id FROM documents
      WHERE ${graft.operators.Splits.bucketSql("doc_id", "sample")} < 2000
      ORDER BY id
    """.trim)
  )

  /** Token-budget systematic PPS sample over documents: weight = the
    * whitespace token count, one kept row per `step` tokens of
    * cumulative weight. Exercises the two-level prefix-sum
    * decomposition (8 id buckets at width 64) against the oracle's
    * single global cumsum — the two must agree row-for-row. */
  val ppsSample: QueryDef = QueryDef(
    "pps_sample",
    (s, dir) => {
      val w = TextAnalysis.tokenCounts(tbl(s, dir, "documents"), "doc_id", "text")
        .select(col("id"), col("n_ws_tokens").as("w"))
      Splits.systematicSample(w, "id", "w", step = 500L, idBucketWidth = 64L)
        .orderBy("id")
    },
    Some(("""
      WITH w AS (
        SELECT doc_id AS id,
          len(list_filter(regexp_split_to_array(text, ' +'), x -> len(x) > 0)) AS w
        FROM documents)
      """ + Splits.systematicSampleSql("SELECT id, w FROM w", 500L) + " ORDER BY id").trim)
  )

  /** Content-defined chunking over documents: the
    * [[graft.plans.CdcBoundaries]] mask rule splits each text at
    * rolling-hash-chosen positions (expected chunk ≈ 2^6 chars), so an
    * edit shifts only its own chunk and the rest keep their hashes —
    * the incremental-dedup/delta-storage unit. The oracle replays the
    * per-position Horner fold the O(n) rolling kernel reduces to. */
  val cdcChunksQ: QueryDef = QueryDef(
    "cdc_chunks",
    (s, dir) => Dedup.cdcChunks(
      tbl(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id").as("id"), col("text")),
      "id", "text", w = 8, maskBits = 6)
      .orderBy("id", "chunk_no"),
    Some(Dedup.cdcChunksSql(
      "SELECT doc_id AS id, text FROM documents WHERE doc_id < 200", w = 8, maskBits = 6)
      + " ORDER BY id, chunk_no")
  )

  /** The end-to-end curation funnel over documents ∪ planted near-dup
    * tails ∪ planted verbatim clones, via the staged
    * [[graft.operators.CurationFunnel]] operator (lang → quality →
    * exact dedup → MinHash-LSH near-dedup). The gate compares the
    * per-stage survivor counts; callers wanting the tiers themselves
    * use `CurationFunnel.run(...)` and persist each staged frame. */
  private val funnelFinalSelect = """SELECT '1_ingest' AS stage, count(*) AS n_rows FROM base
      UNION ALL SELECT '2_lang', count(*) FROM s2
      UNION ALL SELECT '3_quality', count(*) FROM s3
      UNION ALL SELECT '4_exact', count(*) FROM s4
      UNION ALL SELECT '5_near_dedup', count(*) FROM s5
      ORDER BY 1"""

  val curationFunnel: QueryDef = QueryDef(
    "curation_funnel",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      val base = d.select(col("doc_id").as("id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("id"), concat(col("text"), lit(tail)).as("text")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("id"), col("text")))
      CurationFunnel.run(base, "id", "text").counts
    },
    Some {
      val nWords = TextAnalysis.qualitySql("text").toMap.apply("n_words")
      val stopR = TextAnalysis.qualitySql("text").toMap.apply("stopword_ratio")
      val (scores, pred) = TextAnalysis.langIdSql("text")
      val scoreExprs = scores.map { case (name, e) => s"$e AS $name" }.mkString(",\n            ")
      s"""
      WITH base AS (
        SELECT doc_id AS id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text || '$tail' FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
      ),
      s1 AS (
        SELECT id, text, n_words, sr, $pred AS pred_lang
        FROM (
          SELECT id, text, $nWords AS n_words, $stopR AS sr,
            $scoreExprs
          FROM base
        )
      ),
      s2 AS (SELECT * FROM s1 WHERE pred_lang = 'en'),
      s3 AS (SELECT * FROM s2 WHERE n_words >= 40 AND sr >= 0.05),
      s4 AS (
        SELECT s3.id, s3.text FROM s3
        JOIN (SELECT min(id) AS id FROM s3 GROUP BY md5(text)) k ON s3.id = k.id
      ),
      ${shingleCtes("SELECT id, text FROM s4", hashBits30 = true, distinct = true)},
      sig AS (
        SELECT id, hs, list_transform(generate_series(0, 15), i ->
          list_min(list_transform(hs, h -> (h * (2*i + 1) + 12345*i + 7) % ${TextFunctions.MinhashPrime}))) AS sig
        FROM hs
      ),
      b AS (
        SELECT id, hs, band_id, sig[band_id*4 + 1 : band_id*4 + 4] AS band
        FROM sig CROSS JOIN unnest([0, 1, 2, 3]) AS t(band_id)
      ),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b2.id AS id_b
        FROM b a JOIN b b2 ON a.band_id = b2.band_id AND a.band = b2.band AND a.id < b2.id
      ),
      j AS (
        SELECT id_a, id_b,
          CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
            / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) AS jaccard
        FROM cand JOIN hs ha ON ha.id = cand.id_a JOIN hs hb ON hb.id = cand.id_b
      ),
      dupids AS (SELECT DISTINCT id_b AS id FROM j WHERE jaccard >= 0.6),
      s5 AS (SELECT * FROM s4 WHERE id NOT IN (SELECT id FROM dupids))
      $funnelFinalSelect
      """.trim
    }
  )

  /** Per-document DISPOSITION through the funnel — the audit-trail
    * relation curation compliance wants: every ingested row with
    * where it survived to, or the first gate that dropped it. Slim
    * (id) membership left-joins against the staged frames. */
  val curationDispositions: QueryDef = QueryDef(
    "curation_dispositions",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      val base = d.select(col("doc_id").as("id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("id"), concat(col("text"), lit(tail)).as("text")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("id"), col("text")))
      CurationFunnel.dispositions(CurationFunnel.run(base, "id", "text"))
        .orderBy("id")
    },
    Some(curationFunnel.oracle.get.replace(funnelFinalSelect, """
      SELECT b.id,
        CASE WHEN k5.id IS NOT NULL THEN 'kept'
             WHEN k4.id IS NOT NULL THEN 'drop_near_dup'
             WHEN k3.id IS NOT NULL THEN 'drop_exact_dup'
             WHEN k2.id IS NOT NULL THEN 'drop_quality'
             ELSE 'drop_lang' END AS disposition
      FROM base b
      LEFT JOIN (SELECT id FROM s5) k5 ON k5.id = b.id
      LEFT JOIN (SELECT id FROM s4) k4 ON k4.id = b.id
      LEFT JOIN (SELECT id FROM s3) k3 ON k3.id = b.id
      LEFT JOIN (SELECT id FROM s2) k2 ON k2.id = b.id
      ORDER BY b.id""".trim))
  )

  /** CAPSTONE composition — the six-tier ingest pipeline end-to-end:
    * planted HTML markup → [[TextAnalysis.stripHtml]] → word-count
    * quality floor → [[Dedup.nearDupSurvivors]] (MinHash pairs →
    * connected components → keepers) → [[TextAnalysis.bpeTokenCounts]]
    * → [[Splits.hashSplit]] → [[Packing.packChunks]]. Every stage is
    * individually gated; this gate proves they COMPOSE — the oracle
    * nests each stage's SQL twin as a subquery (recursive CTEs and
    * all). */
  val pipelineE2e: QueryDef = pipelineE2eDef("pipeline_e2e", corpus, corpusSql)

  /** Soak-tier twin of [[pipelineE2e]]: deterministic 1-in-4 corpus
    * subsample (id % 4 == 1) applied identically on BOTH engines, so the
    * sf0.5 soak can replay the capstone oracle (whose recursive
    * connected-components CTE is the quadratic cost) inside the DuckDB
    * budget. Modulus 4 divides the 1 000 000 clone-id offset, so
    * original+clone pairs land in the same residue class and the
    * near-dup stage still sees its planted dups. */
  val pipelineE2eSub: QueryDef = pipelineE2eDef("pipeline_e2e_sub",
    (s, dir) => corpus(s, dir).filter(col("id") % 4 === 1),
    s"SELECT * FROM ($corpusSql) WHERE id % 4 = 1")

  private def pipelineE2eDef(name: String,
      corpusIn: (SparkSession, String) => DataFrame, corpusInSql: String): QueryDef = QueryDef(
    name,
    (s, dir) => {
      val raw = corpusIn(s, dir).select(col("id"),
        concat(lit("<p>"), col("text"),
          lit("</p><script>var x = 1 < 2;</script> &amp; tail")).as("text"))
      val clean = TextAnalysis.stripHtml(raw, "id", "text")
        .select(col("id"), col("text_clean").as("text"))
      val kept = clean.filter(size(TextFunctions.words(col("text"))) >= 40)
      val survivors = Dedup.nearDupSurvivors(kept, "id", "text",
        shingleLen = 3, k = 16, bands = 4, threshold = 0.6)
      val budgets = TextAnalysis.bpeTokenCounts(survivors, "id", "text")
      Packing.packChunks(Splits.hashSplit(budgets, "id", splitSpec),
        "id", "n_bpe_tokens", budget = 512, groupCol = "split")
        .orderBy("group", "id")
    },
    Some {
      val cleanSql =
        s"""SELECT id, ${TextAnalysis.stripHtmlSql("text")} AS text
            FROM (SELECT id, '<p>' || text || '</p><script>var x = 1 < 2;</script> &amp; tail' AS text
                  FROM ($corpusInSql))"""
      val keptSql = s"SELECT id, text FROM ($cleanSql) WHERE len(${TextFunctions.wordsSql("text")}) >= 40"
      val survivorsSql =
        s"""SELECT id, text FROM ($keptSql) kk WHERE kk.id NOT IN (
              WITH RECURSIVE ${minhashCtes(keptSql)},
              p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.6),
              e AS (SELECT id_a AS s, id_b AS d FROM p UNION ALL SELECT id_b, id_a FROM p),
              reach(id, r) AS (
                SELECT DISTINCT s, s FROM e
                UNION
                SELECT e.d, reach.r FROM e JOIN reach ON e.s = reach.id
              ),
              cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
              SELECT id FROM cl WHERE id <> cluster)"""
      val budgetsSql = TextAnalysis.bpeTokenCountsSql(survivorsSql)
      val packInput =
        s"SELECT ${Splits.hashSplitSql("id", splitSpec)} AS g, id, n_bpe_tokens AS t FROM ($budgetsSql)"
      Packing.packChunksSql(packInput, budget = 512) + """ ORDER BY "group", id"""
    }
  )

  /** Benchmark decontamination: corpus scanned against a pseudo-benchmark
    * (every 97th document) for 3-gram shingle collisions; benchmark
    * members flag themselves plus any doc sharing ≥ 5 shingles. */
  val decontaminate: QueryDef = QueryDef(
    "decontaminate",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      Decontaminate.scan(d, d.filter(col("doc_id") % 97 === 0), "doc_id", "text",
        shingleLen = 3, minHits = 5)
        .orderBy("id")
    },
    Some(s"""
      WITH ${shingleCtes("SELECT doc_id AS id, text FROM documents", hashBits30 = false, distinct = true)},
      ex AS (SELECT id, unnest(hs) AS h FROM hs),
      bench AS (SELECT DISTINCT h FROM ex WHERE id % 97 = 0),
      hits AS (SELECT e.id, count(*) AS n_hits FROM ex e JOIN bench b ON e.h = b.h GROUP BY e.id)
      SELECT h2.id, len(h2.hs) AS n_shingles,
        coalesce(hits.n_hits, 0) AS n_hits,
        CAST(coalesce(hits.n_hits, 0) >= 5 AS INT) AS contaminated
      FROM hs h2 LEFT JOIN hits ON h2.id = hits.id
      ORDER BY 1
    """.trim)
  )

  /** Incremental dedup: a synthetic "today's crawl" batch — verbatim
    * clones (every 10th doc), tail variants (every 5th), and novel
    * synthetics (every 7th) — classified against the documents corpus
    * as exact / near / novel with the best corpus match. */
  val incrementalDedup: QueryDef = QueryDef(
    "incremental_dedup",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      val batch = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000L).as("id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("id"), concat(col("text"), lit(tail)).as("text")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 4000000L).as("id"),
            concat(lit("completely novel entry number "), col("doc_id").cast("string"),
              lit(" with fresh synthetic content")).as("text")))
      Dedup.incrementalDedup(batch, d.select(col("doc_id").as("id"), col("text")),
        "id", "text", shingleLen = 3, k = 16, bands = 4, threshold = 0.6)
        .orderBy("id")
    },
    Some {
      val sig = s"list_transform(generate_series(0, 15), i -> list_min(list_transform(hs, h -> (h * (2*i + 1) + 12345*i + 7) % ${TextFunctions.MinhashPrime})))"
      s"""
      WITH batch AS (
        SELECT doc_id + 3000000 AS id, text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 1000000, text || '$tail' FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 4000000, 'completely novel entry number ' || CAST(doc_id AS VARCHAR) || ' with fresh synthetic content'
        FROM documents WHERE doc_id % 7 = 0
      ),
      ex AS (
        SELECT b.id, min(c.doc_id) AS exact_id
        FROM batch b JOIN documents c ON md5(b.text) = md5(c.text)
        GROUP BY b.id
      ),
      ${shingleCtes("SELECT id, text FROM batch", hashBits30 = true, distinct = true, prefix = "b")},
      ${shingleCtes("SELECT doc_id AS id, text FROM documents", hashBits30 = true, distinct = true, prefix = "c")},
      bsig AS (SELECT id, hs, $sig AS sig FROM bhs),
      csig AS (SELECT id, hs, $sig AS sig FROM chs),
      bband AS (SELECT id, band_id, sig[band_id*4 + 1 : band_id*4 + 4] AS band
                FROM bsig CROSS JOIN unnest([0, 1, 2, 3]) AS t(band_id)),
      cband AS (SELECT id, band_id, sig[band_id*4 + 1 : band_id*4 + 4] AS band
                FROM csig CROSS JOIN unnest([0, 1, 2, 3]) AS t(band_id)),
      cand AS (SELECT DISTINCT b.id AS bid, c.id AS cid
               FROM bband b JOIN cband c ON b.band_id = c.band_id AND b.band = c.band),
      jac AS (
        SELECT bid, cid,
          CAST(len(list_intersect(bh.hs, ch.hs)) AS DOUBLE)
            / (len(bh.hs) + len(ch.hs) - len(list_intersect(bh.hs, ch.hs))) AS jaccard
        FROM cand JOIN bhs bh ON bh.id = cand.bid JOIN chs ch ON ch.id = cand.cid
      ),
      nearb AS (
        SELECT bid, cid, jaccard FROM (
          SELECT bid, cid, jaccard,
            row_number() OVER (PARTITION BY bid ORDER BY jaccard DESC, cid) AS r
          FROM jac WHERE jaccard >= 0.6
        ) WHERE r = 1
      )
      SELECT b.id,
        CASE WHEN ex.exact_id IS NOT NULL THEN 'exact'
             WHEN nearb.cid IS NOT NULL THEN 'near'
             ELSE 'novel' END AS status,
        coalesce(ex.exact_id, nearb.cid) AS match_id,
        CASE WHEN ex.exact_id IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE nearb.jaccard END AS jaccard
      FROM batch b LEFT JOIN ex ON b.id = ex.id LEFT JOIN nearb ON b.id = nearb.bid
      ORDER BY b.id
      """.trim
    }
  )

  /** The PERSISTED-index daily-delta path: build the corpus
    * [[Dedup.DedupIndex]], write it as partitioned parquet, read it
    * back, and classify the same synthetic batch against the READ
    * index — the settled corpus's text is never touched at classify
    * time. The oracle is [[incrementalDedup]]'s SQL verbatim: the gate
    * proves the persisted path changes NOTHING. */
  val incrementalDedupIdx: QueryDef = QueryDef(
    "incremental_dedup_idx",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      val batch = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000L).as("id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("id"), concat(col("text"), lit(tail)).as("text")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 4000000L).as("id"),
            concat(lit("completely novel entry number "), col("doc_id").cast("string"),
              lit(" with fresh synthetic content")).as("text")))
      // per-process path + Overwrite: repeated invocations (bench reps,
      // plan inspection) reuse one directory instead of leaking a fresh
      // temp dir per call; the process token keeps concurrent runs apart
      val path = gateScratchDir("graft_dedup_idx_gate")
      Dedup.writeIndex(
        Dedup.buildIndex(d.select(col("doc_id").as("id"), col("text")), "id", "text",
          shingleLen = 3, k = 16, bands = 4),
        path, mode = org.apache.spark.sql.SaveMode.Overwrite)
      Dedup.incrementalDedup(batch, Dedup.readIndex(s, path), "id", "text",
        shingleLen = 3, k = 16, bands = 4, threshold = 0.6)
        .orderBy("id")
    },
    incrementalDedup.oracle
  )

  /** The COMPACTION leg of the persisted-index lifecycle: the corpus
    * index accretes as two appended shards (evens, then odds — the
    * daily-delta flow), compacts into a fresh one-file-per-relation
    * index, and the batch classifies against the COMPACTED read index.
    * Compaction copies rows verbatim, so the oracle is
    * [[incrementalDedup]]'s SQL verbatim — the gate proves compaction
    * changes NOTHING. */
  val dedupIdxCompact: QueryDef = QueryDef(
    "dedup_idx_compact",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      val batch = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000L).as("id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("id"), concat(col("text"), lit(tail)).as("text")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 4000000L).as("id"),
            concat(lit("completely novel entry number "), col("doc_id").cast("string"),
              lit(" with fresh synthetic content")).as("text")))
      val corpusDocs = d.select(col("doc_id").as("id"), col("text"))
      val src = gateScratchDir("graft_dedup_idx_compact_src")
      val dst = gateScratchDir("graft_dedup_idx_compact_dst")
      Dedup.writeIndex(Dedup.buildIndex(corpusDocs.filter(col("id") % 2 === 0), "id", "text",
        shingleLen = 3, k = 16, bands = 4), src, mode = org.apache.spark.sql.SaveMode.Overwrite)
      Dedup.writeIndex(Dedup.buildIndex(corpusDocs.filter(col("id") % 2 =!= 0), "id", "text",
        shingleLen = 3, k = 16, bands = 4), src, mode = org.apache.spark.sql.SaveMode.Append)
      // compaction commits ErrorIfExists; repeated invocations (bench
      // reps, plan inspection) clear the previous run's destination
      val dstPath = new org.apache.hadoop.fs.Path(dst)
      val fs = dstPath.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(dstPath)) fs.delete(dstPath, true)
      Dedup.compactIndex(s, src, dst)
      Dedup.incrementalDedup(batch, Dedup.readIndex(s, dst), "id", "text",
        shingleLen = 3, k = 16, bands = 4, threshold = 0.6)
        .orderBy("id")
    },
    incrementalDedup.oracle
  )

  /** [[Decontaminate.scanBloom]] over the identical inputs — the Bloom
    * prefilter + exact-verify path. Blooms have no false negatives and
    * the verify phase is exact, so the oracle is decontaminate's own
    * SQL verbatim: the gate proves the sketch path changes NOTHING. */
  val deconBloom: QueryDef = QueryDef(
    "decon_bloom",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      Decontaminate.scanBloom(d, d.filter(col("doc_id") % 97 === 0), "doc_id", "text",
        shingleLen = 3, minHits = 5)
        .orderBy("id")
    },
    decontaminate.oracle
  )

  /** [[Decontaminate]] persisted-index lifecycle: the benchmark's
    * Bloom bits + exact hash relation written once (manifest-last),
    * read back, and scanned against — eval suites change rarely,
    * corpora daily, so the benchmark side should not reshingle per
    * scan. Output is exactly [[deconBloom]]'s (Bloom has no false
    * negatives, verify is exact), so the oracle is shared. */
  val deconBloomIdx: QueryDef = QueryDef(
    "decon_bloom_idx",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      val path = gateScratchDir("graft_bloom_idx_gate")
      Decontaminate.writeBloomIndex(d.filter(col("doc_id") % 97 === 0), "doc_id", "text",
        shingleLen = 3, fpp = 0.01, path)
      Decontaminate.scanBloomIndex(d, Decontaminate.readBloomIndex(s, path), "doc_id", "text",
        minHits = 5)
        .orderBy("id")
    },
    decontaminate.oracle
  )

  /** [[Decontaminate.scanFraction]] — the PaLM-style fractional rule
    * over the same corpus/benchmark split: contaminated when ≥ 50% of a
    * doc's distinct 3-word shingles collide. Benchmark members score
    * overlap 1.0; the fraction column varies continuously over the
    * rest, so the gate exercises the tie-proof fixed-point threshold
    * compare, not just the flag. */
  val deconOverlap: QueryDef = QueryDef(
    "decon_overlap",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      Decontaminate.scanFraction(d, d.filter(col("doc_id") % 97 === 0), "doc_id", "text",
        shingleLen = 3, tau = 0.5)
        .orderBy("id")
    },
    Some(s"""
      WITH ${shingleCtes("SELECT doc_id AS id, text FROM documents", hashBits30 = false, distinct = true)}
      ${Decontaminate.scanFractionSql("SELECT id, hs FROM hs", "SELECT hs FROM hs WHERE id % 97 = 0", 0.5)}
      ORDER BY id
    """.trim)
  )

  // ---- similarity search ---------------------------------------------

  val embedTopK: QueryDef = QueryDef(
    "embed_topk",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      SimilaritySearch.cosineTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings),
      sc AS (
        SELECT query_id, neighbor_id,
          round(${SimilaritySearch.cosineSql("qvec", "cvec", 64)}, 9) AS cos
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
      ),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
      SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank
    """.trim)
  )

  /** Hard-negative mining over the embeddings table: positives =
    * same 6-plane LSH bucket (the near-dup proxy), anchors = the first
    * 12 vectors, negatives = top-5 out-of-bucket cosine neighbors.
    * Pins BOTH the exclusion semantics (same-bucket rows never appear
    * as negatives) and the rank order; the oracle replays the bucket
    * bits and the cosine ranking independently. */
  val hardNegativesQ: QueryDef = QueryDef(
    "hard_negatives",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          SimilaritySearch.hyperplaneBucket(col("embedding"), 64, 6).as("cl"))
      SimilaritySearch.hardNegatives(e, e.filter(col("id") < 12),
        "id", "vec", "cl", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("anchor_id", "rank")
    },
    Some(s"""
      WITH v AS (SELECT vec_id AS id, embedding AS vec,
          ${SimilaritySearch.hyperplaneBucketSql("embedding", 64, 6)} AS cl
        FROM embeddings),
      a AS (SELECT id AS anchor_id, vec AS avec, cl AS acl FROM v WHERE id < 12),
      sc AS (
        SELECT anchor_id, id AS neg_id,
          round(${SimilaritySearch.cosineSql("avec", "vec", 64)}, 9) AS cos
        FROM a JOIN v ON anchor_id <> id AND acl <> cl
      ),
      r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, neg_id) AS rank FROM sc)
      SELECT anchor_id, neg_id, cos, rank FROM r WHERE rank <= 5 ORDER BY anchor_id, rank
    """.trim)
  )

  /** Hybrid retrieval: the BM25 lexical ranking and the dense cosine
    * ranking fused by [[SimilaritySearch.rrfFuse]] — rank-only integer
    * fusion, so no score calibration and a bit-exact replay. Both
    * input rankings are gated on their own (bm25_scores, embed_topk);
    * this pins the MERGE. */
  val rrfFusion: QueryDef = {
    val terms = Seq("spark", "window", "vector", "stream")
    QueryDef(
      "rrf_fusion",
      (s, dir) => {
        val wL = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("id").asc)
        val lex = TextAnalysis.bm25Scores(
          tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")),
          "id", "text", terms)
          .withColumn("rank", row_number().over(wL))
          .filter(col("rank") <= 50)
          .select("id", "rank")
        val e = tbl(s, dir, "embeddings")
        val sem = SimilaritySearch.cosineTopK(e, e.filter(col("vec_id") === 7),
          "vec_id", "embedding", k = 50)
          .select(col("neighbor_id").as("id"), col("rank"))
        SimilaritySearch.rrfFuse(Seq(lex, sem), k0 = 60, topK = 20)
          .orderBy("fused_rank")
      },
      Some(s"""
        WITH bm AS (${TextAnalysis.bm25Sql("SELECT doc_id AS id, text FROM documents", terms)}),
        lexr AS (SELECT id, rank FROM (
          SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank FROM bm) WHERE rank <= 50),
        q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 7),
        sc AS (SELECT vec_id AS id, round(${SimilaritySearch.cosineSql("qvec", "embedding", 64)}, 9) AS cos
               FROM embeddings CROSS JOIN q WHERE vec_id <> 7),
        semr AS (SELECT id, rank FROM (
          SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS rank FROM sc) WHERE rank <= 50),
        u AS (SELECT * FROM lexr UNION ALL SELECT * FROM semr),
        f AS (SELECT id, CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_score FROM u GROUP BY id),
        r AS (SELECT id, rrf_score,
                CAST(row_number() OVER (ORDER BY rrf_score DESC, id) AS BIGINT) AS fused_rank FROM f)
        SELECT id, rrf_score, fused_rank FROM r WHERE fused_rank <= 20 ORDER BY fused_rank
      """.trim)
    )
  }

  /** Raw text → dense vectors → similarity search with ZERO external
    * artifacts: [[TextAnalysis.hashedEmbedding]] (feature-hashed char
    * trigrams, exact integers until the final cast) feeds the SAME
    * [[SimilaritySearch.cosineTopK]] the real-embedding tier uses —
    * the end-to-end bridge between the text and ANN tiers. The oracle
    * replays vector construction and cosine bit-for-bit. */
  val textEmbedTopK: QueryDef = QueryDef(
    "text_embed_topk",
    (s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val emb = TextAnalysis.hashedEmbedding(docs, "doc_id", "text", dim = 64)
      SimilaritySearch.cosineTopK(emb, emb.filter(col("id") < 10), "id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH ${TextAnalysis.hashedEmbeddingSql("SELECT doc_id AS id, text FROM documents", 64)},
      q AS (SELECT id AS query_id, vec AS qvec FROM hemb WHERE id < 10),
      c AS (SELECT id AS neighbor_id, vec AS cvec FROM hemb),
      sc AS (
        SELECT query_id, neighbor_id,
          round(${SimilaritySearch.cosineSql("qvec", "cvec", 64)}, 9) AS cos
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
      ),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
      SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank
    """.trim)
  )

  val embedAnn: QueryDef = QueryDef(
    "embed_ann",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      SimilaritySearch.annTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
        dim = 64, p = 6, k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH bk AS (
        SELECT vec_id, embedding, ${SimilaritySearch.hyperplaneBucketSql("embedding", 64, 6)} AS bucket
        FROM embeddings
      ),
      q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket FROM bk WHERE vec_id < 20),
      sc AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
          round(${SimilaritySearch.cosineSql("q.qvec", "c.embedding", 64)}, 9) AS cos
        FROM q JOIN bk c ON q.bucket = c.bucket AND q.query_id <> c.vec_id
      ),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
      SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 3 ORDER BY query_id, rank
    """.trim)
  )

  /** Semantic near-dup pairs: bucketed self-join + exact-cosine
    * verification, over embeddings ∪ planted scaled clones (every 5th
    * vector re-appears ×2 under id+1M — same direction, different
    * values, so the tier provably verifies COSINE, not equality; the
    * raw synthetic vectors have no natural pairs at 0.95). */
  val embedNearDups: QueryDef = QueryDef(
    "embed_near_dups",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") % 5 === 0).select(
          (col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
      SimilaritySearch.embeddingNearDupPairs(
        corpus, "vec_id", "embedding", dim = 64, p = 6, threshold = 0.95)
        .orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, list_transform(embedding, x -> x * CAST(2.0 AS FLOAT))
        FROM embeddings WHERE vec_id % 5 = 0
      ),
      bk AS (
        SELECT vec_id, embedding, ${SimilaritySearch.hyperplaneBucketSql("embedding", 64, 6)} AS bucket
        FROM corpus
      ),
      sc AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(${SimilaritySearch.cosineSql("a.embedding", "b.embedding", 64)}, 9) AS cos
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      )
      SELECT id_a, id_b, cos FROM sc WHERE cos >= 0.95 ORDER BY id_a, id_b
    """.trim)
  )

  val embedIvf: QueryDef = QueryDef(
    "embed_ivf",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      SimilaritySearch.ivfTopK(
        e,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 120),
        e.filter(col("vec_id") < 16),
        "vec_id", "embedding", k = 3, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH cent AS (SELECT vec_id AS centroid_id, embedding AS ctr FROM embeddings WHERE vec_id < 16),
      corp AS (SELECT vec_id AS neighbor_id, embedding AS nvec FROM embeddings),
      ca AS (
        SELECT neighbor_id, nvec, centroid_id,
          row_number() OVER (PARTITION BY neighbor_id ORDER BY ctr_cos DESC, centroid_id) AS r
        FROM (SELECT neighbor_id, nvec, centroid_id,
                round(${SimilaritySearch.cosineZeroSafeSql("nvec", "ctr", 64)}, 9) AS ctr_cos
              FROM corp CROSS JOIN cent)
      ),
      cassign AS (SELECT neighbor_id, nvec, centroid_id AS cell FROM ca WHERE r = 1),
      q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id >= 100 AND vec_id < 120),
      qa AS (
        SELECT query_id, qvec, centroid_id,
          row_number() OVER (PARTITION BY query_id ORDER BY ctr_cos DESC, centroid_id) AS r
        FROM (SELECT query_id, qvec, centroid_id,
                round(${SimilaritySearch.cosineZeroSafeSql("qvec", "ctr", 64)}, 9) AS ctr_cos
              FROM q CROSS JOIN cent)
      ),
      qassign AS (SELECT query_id, qvec, centroid_id AS cell FROM qa WHERE r <= 2),
      sc AS (
        SELECT query_id, neighbor_id,
          round(${SimilaritySearch.cosineSql("qvec", "nvec", 64)}, 9) AS cos
        FROM qassign JOIN cassign USING (cell)
        WHERE query_id <> neighbor_id
      ),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
      SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 3 ORDER BY query_id, rank
    """.trim)
  )

  /** IVF with FITTED centroids — [[SimilaritySearch.fitCentroids]]
    * (content-addressed seeds, 2 fixed-point Lloyd rounds, k=8) feeding
    * [[SimilaritySearch.ivfTopK]], the fit inside the measured query.
    * The oracle replays the full fit via unrolled CTEs — every centroid
    * element is bit-identical across engines (exact integer sums). */
  val embedIvfFit: QueryDef = QueryDef(
    "embed_ivf_fit",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val cent = SimilaritySearch.fitCentroids(e, "vec_id", "embedding", k = 8, rounds = 2, dim = 64)
      SimilaritySearch.ivfTopK(
        e,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 120),
        cent.select(col("centroid_id").as("vec_id"), col("ctr_vec").as("embedding")),
        "vec_id", "embedding", k = 3, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH ${SimilaritySearch.fitCentroidsCtes("SELECT vec_id AS id, embedding AS vec FROM embeddings", k = 8, rounds = 2, dim = 64)},
      cent AS (SELECT centroid_id, ctr FROM kmcent_2),
      corp AS (SELECT vec_id AS neighbor_id, embedding AS nvec FROM embeddings),
      ca AS (
        SELECT neighbor_id, nvec, centroid_id,
          row_number() OVER (PARTITION BY neighbor_id ORDER BY ctr_cos DESC, centroid_id) AS r
        FROM (SELECT neighbor_id, nvec, centroid_id,
                round(${SimilaritySearch.cosineZeroSafeSql("nvec", "ctr", 64)}, 9) AS ctr_cos
              FROM corp CROSS JOIN cent)
      ),
      cassign AS (SELECT neighbor_id, nvec, centroid_id AS cell FROM ca WHERE r = 1),
      q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id >= 100 AND vec_id < 120),
      qa AS (
        SELECT query_id, qvec, centroid_id,
          row_number() OVER (PARTITION BY query_id ORDER BY ctr_cos DESC, centroid_id) AS r
        FROM (SELECT query_id, qvec, centroid_id,
                round(${SimilaritySearch.cosineZeroSafeSql("qvec", "ctr", 64)}, 9) AS ctr_cos
              FROM q CROSS JOIN cent)
      ),
      qassign AS (SELECT query_id, qvec, centroid_id AS cell FROM qa WHERE r <= 2),
      sc AS (
        SELECT query_id, neighbor_id,
          round(${SimilaritySearch.cosineSql("qvec", "nvec", 64)}, 9) AS cos
        FROM qassign JOIN cassign USING (cell)
        WHERE query_id <> neighbor_id
      ),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
      SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 3 ORDER BY query_id, rank
    """.trim)
  )

  /** Sliding-window chunking (40-token windows every 30 tokens): the
    * RAG prep relation, fully replayed by the oracle. */
  val chunkTextQ: QueryDef = QueryDef(
    "chunk_text",
    (s, dir) => TextAnalysis.chunkText(
      tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")),
      "id", "text", window = 40, stride = 30)
      .orderBy("id", "chunk_id"),
    Some(s"""
      ${TextAnalysis.chunkTextSql("SELECT doc_id AS id, text FROM documents", window = 40, stride = 30)}
      ORDER BY id, chunk_id
    """.trim)
  )

  /** Snapshot diff: documents vs a synthetic "today" — every 10th doc
    * removed, every 7th surviving doc's text changed, every 13th
    * re-added under a new id. Only churn rows emit. */
  val corpusDiff: QueryDef = QueryDef(
    "corpus_diff",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      val cur = d.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" revised")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
      Dedup.corpusDiff(d, cur, "doc_id", "text").orderBy("id")
    },
    Some("""
      WITH cur AS (
        SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' revised' ELSE text END AS text
        FROM documents WHERE doc_id % 10 <> 0
        UNION ALL
        SELECT doc_id + 5000000, text FROM documents WHERE doc_id % 13 = 0
      ),
      p AS (SELECT doc_id AS id, md5(text) AS prev_md5 FROM documents),
      c AS (SELECT doc_id AS id, md5(text) AS cur_md5 FROM cur)
      SELECT coalesce(p.id, c.id) AS id,
        CASE WHEN p.id IS NULL THEN 'added'
             WHEN c.id IS NULL THEN 'removed'
             WHEN prev_md5 IS DISTINCT FROM cur_md5 THEN 'changed' END AS status,
        prev_md5, cur_md5
      FROM p FULL OUTER JOIN c ON p.id = c.id
      WHERE CASE WHEN p.id IS NULL THEN 'added'
             WHEN c.id IS NULL THEN 'removed'
             WHEN prev_md5 IS DISTINCT FROM cur_md5 THEN 'changed' END IS NOT NULL
      ORDER BY id
    """.trim)
  )

  /** BM25 relevance against a literal query-term set — the
    * topic-mining scorer; only matching docs return. */
  val bm25Scores: QueryDef = {
    val terms = Seq("spark", "window", "vector", "stream")
    QueryDef(
      "bm25_scores",
      (s, dir) => TextAnalysis.bm25Scores(
        tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")),
        "id", "text", terms).orderBy("id"),
      Some(s"""
        ${TextAnalysis.bm25Sql("SELECT doc_id AS id, text FROM documents", terms)}
        ORDER BY id
      """.trim)
    )
  }

  /** Retrieval WITHOUT the corpus scan: documents index once into the
    * Hive-bucketed inverted index ([[graft.operators.TextIndex]] —
    * postings carry the doc length, corpus constants live in the
    * manifest), then the SAME four-term query runs against the index
    * alone, reading only the buckets the terms hash into
    * (PartitionFilters, plan-pinned in PlanShapeSpec). Scores must be
    * bit-identical to the inline operator, so the gate shares
    * `bm25_scores`' oracle verbatim. */
  val bm25IndexSearch: QueryDef = {
    val terms = Seq("spark", "window", "vector", "stream")
    QueryDef(
      "bm25_index_search",
      (s, dir) => {
        val base = java.nio.file.Files.createTempDirectory("graft-tidx").toString
        graft.operators.TextIndex.writeTextIndex(
          tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")),
          "id", "text", base, numBuckets = 16)
        graft.operators.TextIndex.searchTextIndex(s, base, terms).orderBy("id")
      },
      Some(s"""
        ${TextAnalysis.bm25Sql("SELECT doc_id AS id, text FROM documents", terms)}
        ORDER BY id
      """.trim)
    )
  }

  /** The SAME retrieval, index built INCREMENTALLY: half the corpus at
    * write time, the rest appended as two delta shards — global df and
    * the corpus constants reconstruct by summation, so scores must
    * stay bit-identical to the inline operator on the union corpus
    * (`bm25_scores`' oracle again, verbatim). */
  val bm25IndexIncr: QueryDef = {
    val terms = Seq("spark", "window", "vector", "stream")
    QueryDef(
      "bm25_index_incr",
      (s, dir) => {
        val base = java.nio.file.Files.createTempDirectory("graft-tidx-incr").toString
        val d = tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
        graft.operators.TextIndex.writeTextIndex(
          d.filter(col("id") % 4 < 2), "id", "text", base, numBuckets = 16)
        graft.operators.TextIndex.appendTextIndex(
          d.filter(col("id") % 4 === 2), "id", "text", base)
        graft.operators.TextIndex.appendTextIndex(
          d.filter(col("id") % 4 === 3), "id", "text", base)
        graft.operators.TextIndex.searchTextIndex(s, base, terms).orderBy("id")
      },
      Some(s"""
        ${TextAnalysis.bm25Sql("SELECT doc_id AS id, text FROM documents", terms)}
        ORDER BY id
      """.trim)
    )
  }

  /** Unigram vocabulary fit over the documents corpus: substring
    * pieces with exact weighted counts and floor-10⁶ −ln(p) costs. */
  val unigramVocab: QueryDef = QueryDef(
    "unigram_vocab",
    (s, dir) => graft.operators.Unigram.fitVocab(
        tbl(s, dir, "documents"), "text",
        maxPieceLen = 4, minFreq = 5L, vocabSize = 200)
      .orderBy("piece"),
    Some(s"""
      ${graft.operators.Unigram.fitVocabSql("SELECT * FROM documents", "text", 4, 5L, 200)}
      ORDER BY piece
    """.trim)
  )

  /** Min-cost unigram segmentation VALUES per word type under that
    * vocabulary — the DP fold runs as an in-row `aggregate` on the
    * Spark side and the ELEMENT-FOR-ELEMENT same `list_reduce` fold in
    * DuckDB (list-of-structs accumulator, len(acc) as the position,
    * lexicographic struct min), so the two engines walk the identical
    * table. */
  val unigramSegment: QueryDef = QueryDef(
    "unigram_segment",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.operators.Unigram.segmentWords(d, "text",
          graft.operators.Unigram.fitVocab(d, "text", 4, 5L, 200), maxPieceLen = 4)
        .orderBy("word")
    },
    Some(s"""
      ${graft.operators.Unigram.segmentWordsSql(
        "SELECT * FROM documents", "text",
        graft.operators.Unigram.fitVocabSql("SELECT * FROM documents", "text", 4, 5L, 200),
        4)}
      ORDER BY word
    """.trim)
  )

  /** The actual piece sequences under the fitted vocab — the forward
    * DP plus the deterministic backtrace (tiebreak all the way down:
    * (cost, pieces, start)), '|'-joined so the output stays scalar. */
  val unigramPieces: QueryDef = QueryDef(
    "unigram_pieces",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.operators.Unigram.segmentPieces(d, "text",
          graft.operators.Unigram.fitVocab(d, "text", 4, 5L, 200), maxPieceLen = 4)
        .orderBy("word")
    },
    Some(s"""
      ${graft.operators.Unigram.segmentPiecesSql(
        "SELECT * FROM documents", "text",
        graft.operators.Unigram.fitVocabSql("SELECT * FROM documents", "text", 4, 5L, 200),
        4)}
      ORDER BY word
    """.trim)
  )

  /** One hard-EM refit round: usage-count the winning segmentations,
    * re-cost, drop never-used pieces — the SentencePiece training
    * loop's pruning step, replayed end-to-end by the oracle. */
  val unigramRefit: QueryDef = QueryDef(
    "unigram_refit",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.operators.Unigram.refitVocab(d, "text",
          graft.operators.Unigram.fitVocab(d, "text", 4, 5L, 200), maxPieceLen = 4)
        .orderBy("piece")
    },
    Some(s"""
      ${graft.operators.Unigram.refitVocabSql(
        "SELECT * FROM documents", "text",
        graft.operators.Unigram.fitVocabSql("SELECT * FROM documents", "text", 4, 5L, 200),
        4)}
      ORDER BY piece
    """.trim)
  )

  /** Deterministic epoch shuffle: the training-order relation (id →
    * shard, position) for epoch 1 over 8 shards — RNG-free, so the
    * oracle replays the exact permutation. */
  val epochShuffle: QueryDef = QueryDef(
    "epoch_shuffle",
    (s, dir) => Splits.epochShuffle(
      tbl(s, dir, "documents").select(col("doc_id").as("id")), "id",
      epoch = 1, numShards = 8)
      .orderBy("shard", "pos"),
    Some(s"""
      ${Splits.epochShuffleSql("SELECT doc_id AS id FROM documents", epoch = 1, numShards = 8)}
      ORDER BY shard, pos
    """.trim)
  )

  /** Product quantization end-to-end: per-subspace codebook fit (m=4
    * subspaces of 16 dims, ksub=4 codewords, 1 Lloyd round), corpus
    * encode (nearest codeword by L2, min-struct aggregate), and ADC
    * top-k (per-query LUT of fixed-point codeword dots; candidate score
    * = exact BIGINT sum of m lookups). The oracle replays all four
    * subspace fits (prefixed CTE chains), the encode, and the ADC rank
    * bit-for-bit. */
  val embedPq: QueryDef = QueryDef(
    "embed_pq",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val books = SimilaritySearch.fitPqCodebooks(e, "vec_id", "embedding",
        m = 4, ksub = 4, rounds = 1, dim = 64)
      val codes = SimilaritySearch.pqEncode(e, books, "vec_id", "embedding",
        m = 4, subDim = 16)
      SimilaritySearch.pqTopK(codes, books,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 120),
        "vec_id", "embedding", m = 4, subDim = 16, k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some {
      val fits = (0 until 4).map { s =>
        SimilaritySearch.fitCentroidsCtes(
          s"SELECT vec_id AS id, embedding[${s * 16 + 1}:${s * 16 + 16}] AS vec FROM embeddings",
          k = 4, rounds = 1, dim = 16, prefix = s"pq${s}_")
      }.mkString(",\n      ")
      val booksSql = (0 until 4).map(s =>
        s"SELECT $s AS subspace, centroid_id, ctr FROM pq${s}_kmcent_1").mkString(" UNION ALL ")
      val d2 = s"${SimilaritySearch.dotSql("subvec", "subvec", 16)} - 2.0 * ${SimilaritySearch.dotSql("subvec", "ctr", 16)} + ${SimilaritySearch.dotSql("ctr", "ctr", 16)}"
      s"""
      WITH $fits,
      books AS ($booksSql),
      subs AS (
        SELECT vec_id AS id, t.subspace,
          embedding[(t.subspace*16 + 1):(t.subspace*16 + 16)] AS subvec
        FROM embeddings CROSS JOIN unnest([0, 1, 2, 3]) AS t(subspace)
      ),
      encd AS (
        SELECT id, subspace, centroid_id,
          row_number() OVER (PARTITION BY id, subspace ORDER BY d2, centroid_id) AS r
        FROM (SELECT s.id, s.subspace, b.centroid_id, round($d2, 9) AS d2
              FROM subs s JOIN books b USING (subspace))
      ),
      codes AS (SELECT id, subspace, centroid_id AS code FROM encd WHERE r = 1),
      qsubs AS (
        SELECT vec_id AS query_id, t.subspace,
          embedding[(t.subspace*16 + 1):(t.subspace*16 + 16)] AS qsub
        FROM embeddings CROSS JOIN unnest([0, 1, 2, 3]) AS t(subspace)
        WHERE vec_id >= 100 AND vec_id < 120
      ),
      lut AS (
        SELECT query_id, subspace, centroid_id AS code,
          CAST(floor(${SimilaritySearch.dotSql("qsub", "ctr", 16)} * 1000000000) AS BIGINT) AS fdot
        FROM qsubs JOIN books USING (subspace)
      ),
      sc AS (
        SELECT l.query_id, c.id AS neighbor_id, CAST(sum(l.fdot) AS BIGINT) AS fadc
        FROM codes c JOIN lut l ON c.subspace = l.subspace AND c.code = l.code
        WHERE l.query_id <> c.id
        GROUP BY 1, 2
      ),
      rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY fadc DESC, neighbor_id) AS rank FROM sc)
      SELECT query_id, neighbor_id, CAST(fadc AS DOUBLE) / 1000000000.0 AS adc_dot, rank
      FROM rk WHERE rank <= 3 ORDER BY query_id, rank
      """.trim
    }
  )

  /** IVF-PQ (IVFADC) end-to-end: coarse k-means fit (k=8, 1 round) →
    * cell assignment → RESIDUAL codebook fit (m=4 × ksub=4, 1 round) →
    * encode → ADC probe of nprobe=2 cells with the exact decomposition
    * dot(q,x̂) = fixed-point dot(q,c_cell) + Σ LUT. The oracle replays
    * the coarse fit, the residual subtraction, all four residual
    * subspace fits, the encode and the probe rank bit-for-bit. */
  val embedIvfPq: QueryDef = QueryDef(
    "embed_ivfpq",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val index = SimilaritySearch.fitIvfPq(e, "vec_id", "embedding",
        kc = 8, coarseRounds = 1, m = 4, ksub = 4, pqRounds = 1, dim = 64)
      SimilaritySearch.ivfPqTopK(index,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 120),
        "vec_id", "embedding", m = 4, subDim = 16, k = 3, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some {
      val resFits = (0 until 4).map { s =>
        SimilaritySearch.fitCentroidsCtes(
          s"SELECT id, res[${s * 16 + 1}:${s * 16 + 16}] AS vec FROM res",
          k = 4, rounds = 1, dim = 16, prefix = s"pq${s}_")
      }.mkString(",\n      ")
      val booksSql = (0 until 4).map(s =>
        s"SELECT $s AS subspace, centroid_id, ctr FROM pq${s}_kmcent_1").mkString(" UNION ALL ")
      val d2 = s"${SimilaritySearch.dotSql("subvec", "subvec", 16)} - 2.0 * ${SimilaritySearch.dotSql("subvec", "ctr", 16)} + ${SimilaritySearch.dotSql("ctr", "ctr", 16)}"
      s"""
      WITH ${SimilaritySearch.fitCentroidsCtes("SELECT vec_id AS id, embedding AS vec FROM embeddings", k = 8, rounds = 1, dim = 64)},
      cent AS (SELECT centroid_id, ctr FROM kmcent_1),
      corp AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
      ca AS (
        SELECT id, vec, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY ctr_cos DESC, centroid_id) AS r
        FROM (SELECT p.id, p.vec, c.centroid_id,
                round(${SimilaritySearch.cosineZeroSafeSql("p.vec", "c.ctr", 64)}, 9) AS ctr_cos
              FROM corp p CROSS JOIN cent c)
      ),
      cassign AS (SELECT id, vec, centroid_id AS cell FROM ca WHERE r = 1),
      res AS (
        SELECT a.id, a.cell, list_transform(a.vec, (x, i) -> x - c.ctr[i]) AS res
        FROM cassign a JOIN cent c ON a.cell = c.centroid_id
      ),
      $resFits,
      books AS ($booksSql),
      subs AS (
        SELECT id, cell, t.subspace,
          res[(t.subspace*16 + 1):(t.subspace*16 + 16)] AS subvec
        FROM res CROSS JOIN unnest([0, 1, 2, 3]) AS t(subspace)
      ),
      encd AS (
        SELECT id, cell, subspace, centroid_id,
          row_number() OVER (PARTITION BY id, subspace ORDER BY d2, centroid_id) AS r
        FROM (SELECT s.id, s.cell, s.subspace, b.centroid_id, round($d2, 9) AS d2
              FROM subs s JOIN books b USING (subspace))
      ),
      codes AS (SELECT id, cell, subspace, centroid_id AS code FROM encd WHERE r = 1),
      q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
            WHERE vec_id >= 100 AND vec_id < 120),
      qa AS (
        SELECT query_id, qvec, centroid_id, ctr,
          row_number() OVER (PARTITION BY query_id ORDER BY ctr_cos DESC, centroid_id) AS r
        FROM (SELECT query_id, qvec, c.centroid_id, c.ctr,
                round(${SimilaritySearch.cosineZeroSafeSql("qvec", "c.ctr", 64)}, 9) AS ctr_cos
              FROM q CROSS JOIN cent c)
      ),
      probes AS (
        SELECT query_id, centroid_id AS cell,
          CAST(floor((${SimilaritySearch.dotSql("qvec", "ctr", 64)}) * 1000000000) AS BIGINT) AS fcell
        FROM qa WHERE r <= 2
      ),
      qsubs AS (
        SELECT vec_id AS query_id, t.subspace,
          embedding[(t.subspace*16 + 1):(t.subspace*16 + 16)] AS qsub
        FROM embeddings CROSS JOIN unnest([0, 1, 2, 3]) AS t(subspace)
        WHERE vec_id >= 100 AND vec_id < 120
      ),
      lut AS (
        SELECT query_id, subspace, centroid_id AS code,
          CAST(floor(${SimilaritySearch.dotSql("qsub", "ctr", 16)} * 1000000000) AS BIGINT) AS fdot
        FROM qsubs JOIN books USING (subspace)
      ),
      sc AS (
        SELECT p.query_id, c.id AS neighbor_id,
          CAST(min(p.fcell) + sum(l.fdot) AS BIGINT) AS fadc
        FROM codes c
        JOIN probes p ON c.cell = p.cell AND c.id <> p.query_id
        JOIN lut l ON l.query_id = p.query_id AND l.subspace = c.subspace AND l.code = c.code
        GROUP BY 1, 2
      ),
      rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY fadc DESC, neighbor_id) AS rank FROM sc)
      SELECT query_id, neighbor_id, CAST(fadc AS DOUBLE) / 1000000000.0 AS adc_dot, rank
      FROM rk WHERE rank <= 3 ORDER BY query_id, rank
      """.trim
    }
  )

  /** The same IVF-PQ probe through a PERSISTED index — write (Hive-
    * partitioned codes) → read → probe. The oracle is `embed_ivfpq`'s
    * verbatim: the index round-trip changes NOTHING. */
  val embedIvfPqIdx: QueryDef = QueryDef(
    "embed_ivfpq_idx",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = gateScratchDir("graft_ivfpq_idx_gate")
      SimilaritySearch.writeIvfPqIndex(
        SimilaritySearch.fitIvfPq(e, "vec_id", "embedding",
          kc = 8, coarseRounds = 1, m = 4, ksub = 4, pqRounds = 1, dim = 64),
        path, mode = org.apache.spark.sql.SaveMode.Overwrite)
      SimilaritySearch.ivfPqTopK(SimilaritySearch.readIvfPqIndex(s, path),
        e.filter(col("vec_id") >= 100 && col("vec_id") < 120),
        "vec_id", "embedding", m = 4, subDim = 16, k = 3, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    embedIvfPq.oracle
  )

  /** SemDeDup over the planted-clone corpus: k-means cluster (the
    * deterministic fixed-point fit, replayed by the oracle via unrolled
    * CTEs), within-cluster cosine pairs, connected components, min-id
    * survivor per semantic component — one row per doc with its
    * semantic cluster and keep flag. The scaled clones are
    * direction-identical to their originals, so they MUST land in the
    * same cell and be dropped (keep=0) — pinned by the spec; here the
    * oracle replays the whole chain fit → assign → pairs → closure. */
  val semanticDedup: QueryDef = QueryDef(
    "semantic_dedup",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") % 5 === 0).select(
          (col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
      SimilaritySearch.semanticDedup(corpus, "vec_id", "embedding",
        k = 8, rounds = 2, dim = 64, threshold = 0.95)
        .orderBy("id")
    },
    Some(s"""
      WITH RECURSIVE corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, list_transform(embedding, x -> x * CAST(2.0 AS FLOAT))
        FROM embeddings WHERE vec_id % 5 = 0
      ),
      ${SimilaritySearch.fitCentroidsCtes("SELECT vec_id AS id, embedding AS vec FROM corpus", k = 8, rounds = 2, dim = 64)},
      cent AS (SELECT centroid_id, ctr FROM kmcent_2),
      aa AS (
        SELECT id, vec, centroid_id,
          row_number() OVER (PARTITION BY id ORDER BY c DESC, centroid_id) AS r
        FROM (SELECT p.id, p.vec, c.centroid_id,
                round(${SimilaritySearch.cosineZeroSafeSql("p.vec", "c.ctr", 64)}, 9) AS c
              FROM kmpts p CROSS JOIN cent c)
      ),
      asg AS (SELECT id, vec, centroid_id AS cell FROM aa WHERE r = 1),
      sc AS (
        SELECT a.id AS id_a, b.id AS id_b,
          round(${SimilaritySearch.cosineSql("a.vec", "b.vec", 64)}, 9) AS cos
        FROM asg a JOIN asg b ON a.cell = b.cell AND a.id < b.id
      ),
      p AS (SELECT id_a, id_b FROM sc WHERE cos >= 0.95),
      e AS (SELECT id_a AS s, id_b AS d FROM p UNION ALL SELECT id_b, id_a FROM p),
      reach(id, r) AS (
        SELECT DISTINCT s, s FROM e
        UNION
        SELECT e.d, reach.r FROM e JOIN reach ON e.s = reach.id
      ),
      comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
      SELECT c.vec_id AS id, coalesce(m.cluster, c.vec_id) AS sem_cluster,
        CAST(CASE WHEN m.cluster IS NULL OR m.cluster = c.vec_id THEN 1 ELSE 0 END AS INT) AS keep
      FROM corpus c LEFT JOIN comp m ON c.vec_id = m.id
      ORDER BY id
    """.trim)
  )

  /** Two-salt semantic near-dup pairs over the same planted-clone
    * corpus as `embed_near_dups` — the recall-boosted variant: pairs
    * sharing EITHER family's bucket verify once. */
  val embedNearDupsSalted: QueryDef = QueryDef(
    "embed_near_dups_salted",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") % 5 === 0).select(
          (col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
      SimilaritySearch.embeddingNearDupPairsSalted(
        corpus, "vec_id", "embedding", dim = 64, p = 6, threshold = 0.95, salts = 2)
        .orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, list_transform(embedding, x -> x * CAST(2.0 AS FLOAT))
        FROM embeddings WHERE vec_id % 5 = 0
      ),
      bk AS (
        SELECT vec_id, embedding,
          ${SimilaritySearch.hyperplaneBucketSaltedSql("embedding", 64, 6, 0)} AS b0,
          ${SimilaritySearch.hyperplaneBucketSaltedSql("embedding", 64, 6, 1)} AS b1
        FROM corpus
      ),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bk a JOIN bk b ON (a.b0 = b.b0 OR a.b1 = b.b1) AND a.vec_id < b.vec_id
      ),
      sc AS (
        SELECT id_a, id_b,
          round(${SimilaritySearch.cosineSql("x.embedding", "y.embedding", 64)}, 9) AS cos
        FROM cand JOIN bk x ON x.vec_id = cand.id_a JOIN bk y ON y.vec_id = cand.id_b
      )
      SELECT id_a, id_b, cos FROM sc WHERE cos >= 0.95 ORDER BY id_a, id_b
    """.trim)
  )

  /** ANN-vs-exact evaluation: pooled recall@3 of the p=6 hyperplane
    * buckets over the first 20 query vectors. NB the synthetic
    * embeddings are near-uniform random — the ADVERSARIAL case for any
    * LSH (neighbors barely closer than strangers), so measured recall
    * is intentionally low (~0.08 at sf0.01); this is the report doing
    * its job. On structured corpora (the planted-clone tier of
    * `embed_near_dups`) bucket agreement is near-certain for true
    * near-dups. */
  val embedRecall: QueryDef = QueryDef(
    "embed_recall",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      SimilaritySearch.annRecallReport(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
        dim = 64, p = 6, k = 3)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 20),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings),
      exsc AS (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id ORDER BY
            round(${SimilaritySearch.cosineSql("qvec", "cvec", 64)}, 9) DESC, neighbor_id) AS rank
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
      ),
      ex AS (SELECT query_id, neighbor_id FROM exsc WHERE rank <= 3),
      bk AS (
        SELECT vec_id, embedding, ${SimilaritySearch.hyperplaneBucketSql("embedding", 64, 6)} AS bucket
        FROM embeddings
      ),
      qb AS (SELECT vec_id AS query_id, embedding AS qvec, bucket FROM bk WHERE vec_id < 20),
      ansc AS (
        SELECT qb.query_id, cb.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY qb.query_id ORDER BY
            round(${SimilaritySearch.cosineSql("qb.qvec", "cb.embedding", 64)}, 9) DESC, cb.vec_id) AS rank
        FROM qb JOIN bk cb ON qb.bucket = cb.bucket AND qb.query_id <> cb.vec_id
      ),
      an AS (SELECT query_id, neighbor_id FROM ansc WHERE rank <= 3),
      nq AS (SELECT count(*) AS n_queries FROM q),
      ne AS (SELECT count(*) AS n_exact FROM ex),
      nh AS (SELECT count(*) AS n_hits FROM ex JOIN an USING (query_id, neighbor_id))
      SELECT n_queries, n_exact, n_hits,
        CAST(${TextFunctions.ratioScaledSql("n_hits", "greatest(n_exact, 1)", 1000000000L)} AS DOUBLE) / 1e9 AS recall
      FROM nq CROSS JOIN ne CROSS JOIN nh
    """.trim)
  )

  /** The PERSISTED-IVF-index probe path: assign the corpus once, write
    * centroids + cell-partitioned vectors, read them back, and answer
    * the same queries from the READ index — the corpus is never
    * re-assigned at probe time. Oracle is [[embedIvf]]'s SQL verbatim:
    * the persisted path changes NOTHING. */
  val embedIvfIdx: QueryDef = QueryDef(
    "embed_ivf_idx",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = gateScratchDir("graft_ivf_idx_gate")
      SimilaritySearch.writeIvfIndex(
        SimilaritySearch.buildIvfIndex(e, e.filter(col("vec_id") < 16), "vec_id", "embedding"),
        path, mode = org.apache.spark.sql.SaveMode.Overwrite)
      SimilaritySearch.ivfTopK(SimilaritySearch.readIvfIndex(s, path),
        e.filter(col("vec_id") >= 100 && col("vec_id") < 120),
        "vec_id", "embedding", k = 3, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    embedIvf.oracle
  )

  /** Int8 quantization round-trip: per-vector scale, the code string,
    * and the cosine between the original and its dequantized
    * reconstruction (identical IEEE folds on both engines). */
  val embedQuant: QueryDef = QueryDef(
    "embed_quant",
    (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      SimilaritySearch.quantizeInt8(e, "vec_id", "embedding")
        .join(e.select(col("vec_id").as("id"), col("embedding")), Seq("id"))
        .select(col("id"), col("scale"),
          array_join(transform(col("codes"), c => c.cast("string")), "|").as("codes_str"),
          round(SimilaritySearch.cosine(col("embedding"),
            SimilaritySearch.dequantize(col("codes"), col("scale"))), 9).as("cos9"))
        .orderBy("id")
    },
    Some {
      def dq(i: String) = s"(CAST(codes[$i] AS DOUBLE) * scale)"
      val dotVQ = s"list_reduce(list_transform(generate_series(1, 64), i -> CAST(v[i] AS DOUBLE) * ${dq("i")}), (x, y) -> x + y)"
      val dotVV = s"list_reduce(list_transform(generate_series(1, 64), i -> CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)), (x, y) -> x + y)"
      val dotQQ = s"list_reduce(list_transform(generate_series(1, 64), i -> ${dq("i")} * ${dq("i")}), (x, y) -> x + y)"
      s"""
      WITH base AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
      q AS (SELECT id, v, list_max(list_transform(v, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM base),
      c AS (SELECT id, v, scale,
        CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
             ELSE list_transform(v, x -> greatest(CAST(floor(CAST(x AS DOUBLE) / scale) AS INT), -127)) END AS codes
        FROM q)
      SELECT id, scale,
        array_to_string(list_transform(codes, x -> CAST(x AS VARCHAR)), '|') AS codes_str,
        round($dotVQ / (sqrt($dotVV) * sqrt($dotQQ)), 9) AS cos9
      FROM c ORDER BY id
      """.trim
    }
  )

  /** Deterministic k-center seeding over the int8-quantized embedding
    * corpus: 8 farthest-first seeds with their exact BIGINT selection
    * distances — the oracle replays the identical 8 rounds unrolled as
    * CTEs (and the quantization itself, already pinned by
    * `embed_quant`). */
  val kcenterSeedsQ: QueryDef = QueryDef(
    "kcenter_seeds",
    (s, dir) => SimilaritySearch.kcenterSeeds(
        SimilaritySearch.quantizeInt8(tbl(s, dir, "embeddings"), "vec_id", "embedding"),
        "id", "codes", k = 8)
      .orderBy("rank"),
    Some {
      val codesInput = """
        WITH kq_b AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        kq_s AS (SELECT id, v, list_max(list_transform(v, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale FROM kq_b)
        SELECT id,
          CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
               ELSE list_transform(v, x -> greatest(CAST(floor(CAST(x AS DOUBLE) / scale) AS INT), -127)) END AS codes
        FROM kq_s"""
      s"""
      ${SimilaritySearch.kcenterSeedsSql(codesInput, dim = 64, k = 8)}
      ORDER BY rank
      """.trim
    }
  )

  // ---- multimodal -----------------------------------------------------

  val mediaMeta: QueryDef = QueryDef(
    "media_meta",
    (s, dir) => Media.binaryMeta(
      tbl(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("payload")),
      "doc_id", "payload").orderBy("id"),
    Some("""
      SELECT doc_id AS id,
        CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        substring(lower(hex(CAST(text AS BLOB))), 1, 16) AS prefix_hex
      FROM documents ORDER BY id
    """.trim)
  )

  /** Multimodal pipeline through the TYPED path: documents → binary
    * payloads → `Dataset[MediaItem]` → partition-batched frame sampling
    * (`mapPartitions`) → flat frame relation. The decode kernel is the
    * deterministic stub, which the oracle replays (ASCII payloads:
    * byte i ≡ ascii(char i)). */
  val mediaFrames: QueryDef = QueryDef(
    "media_frames",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .map(r => Media.MediaItem(r.getLong(0), "image", r.getString(1).getBytes("UTF-8")))
      Media.frameSamples(items, framesPerItem = 3)
        .toDF("id", "frame_no", "frame_hash")
        .orderBy("id", "frame_no")
    },
    Some("""
      WITH h AS (
        SELECT doc_id AS id,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) AS acc
        FROM documents
      )
      SELECT id, frame_no, acc * (frame_no + 1) % 1000000007 AS frame_hash
      FROM h CROSS JOIN unnest([0, 1, 2]) AS t(frame_no)
      ORDER BY id, frame_no
    """.trim)
  )

  /** End-to-end multimodal → dedup composition: documents as binary
    * payloads → typed frame sampling (`Dataset[MediaItem]`,
    * `mapPartitions` decode stub) → coarsened per-frame "perceptual"
    * hash (md5-derived 64-hex, bucketed mod 997 so cross-document
    * collisions exist) → [[PdqDuplicates]] exact tier (threshold 1.0)
    * → flat duplicate-edge relation. The shape of a real frames→PDQ→
    * dedup video pipeline, with the codec stub standing in for the
    * decoder. */
  val mediaPdqDups: QueryDef = QueryDef(
    "media_pdq_dups",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .map(r => Media.MediaItem(r.getLong(0), "image", r.getString(1).getBytes("UTF-8")))
      val frames = Media.frameSamples(items, framesPerItem = 3).toDF("id", "frame_no", "frame_hash")
      val v = (col("frame_hash") % 997).cast("string")
      val entries = frames
        .groupBy(col("id"))
        .agg(collect_set(concat(md5(v), md5(concat(v, lit("s"))))).as("pdq_hash"))
        .select(lpad(col("id").cast("string"), 8, "0").as("index"), col("pdq_hash"))
      Parity.flatPdq(PdqDuplicates(entries, similarityThreshold = 1.0,
        strategy = PdqDuplicates.Strategy.Auto, assumeFixed256 = true))
        .orderBy("index", "duplicate")
    },
    Some("""
      WITH h AS (
        SELECT doc_id AS id,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) AS acc
        FROM documents
      ),
      fr AS (
        SELECT id, CAST(acc * (frame_no + 1) % 1000000007 % 997 AS VARCHAR) AS v
        FROM h CROSS JOIN unnest([0, 1, 2]) AS t(frame_no)
      ),
      fx AS (SELECT DISTINCT lpad(CAST(id AS VARCHAR), 8, '0') AS idx, md5(v) || md5(v || 's') AS ch FROM fr),
      edges AS (
        SELECT DISTINCT a.idx AS src, b.idx AS dst
        FROM fx a JOIN fx b ON a.ch = b.ch AND a.idx <> b.idx
      )
      SELECT src AS "index", dst AS duplicate, CAST(1.0 AS DOUBLE) AS similarity FROM edges ORDER BY 1, 2
    """.trim)
  )

  // ---- PDQ from pixels ------------------------------------------------

  /** Deterministic RGB synthesis for the PDQ-from-pixels gates — a
    * group-seed (`acc % 7`) drives the dominant structure so images in
    * one group are near-duplicates, while an id-dependent LOCALIZED
    * perturbation (+40 red in one 16×16 block whose position moves
    * with the id) flips a few DCT bits per image: measured pair
    * distances spread 0 / 4..52 within a group, ~128 across groups. (A
    * global periodic pattern was tried first and flips 70+ bits even
    * at amplitude 2 — near-dup structure needs localized energy.)
    * MUST stay in lockstep with the `pix` CTE in [[pdqPixelCtes]]. */
  private[queries] def synthPixels(id: Long, acc: Long): (Int, Int, Array[Int]) =
    synthPixelsWith(id, acc % 7, id)

  /** The underlying generator with independent knobs: `dimId` picks
    * dims, `g` the scene seed, `bumpId` the perturbation-block
    * position — the media-index gate derives exact / near / novel
    * batch variants of a corpus scene by varying them separately. */
  private[queries] def synthPixelsWith(dimId: Long, g: Long, bumpId: Long): (Int, Int, Array[Int]) = {
    val w = 72 + (dimId % 3).toInt * 28
    val h = 64 + (dimId % 5).toInt * 16
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val pert = if (x / 16 == (bumpId % 4).toInt && y / 16 == (bumpId % 6).toInt) 40 else 0
        val r = ((g * 31 + x * 2 + y * 3 + pert) % 256).toInt
        val gg = ((g * 53 + x * 5 + (x * y / 7) % 64) % 256).toInt
        val b = ((g * 11 + y * 7) % 256).toInt
        px(y * w + x) = (r << 16) | (gg << 8) | b
        x += 1
      }
      y += 1
    }
    (w, h, px)
  }

  /** The same rolling content hash [[mediaFrames]] uses (ASCII text, so
    * the byte fold and the oracle's per-character `ascii()` agree). */
  private[queries] def rollingAcc(text: String): Long =
    text.getBytes("UTF-8").foldLeft(7L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)

  /** SQL replay of the ENTIRE PDQ-from-pixels pipeline — pixel
    * synthesis, integer Rec.601 luma, exact box downsample to 64×64,
    * separable 16×16 DCT-II against the Q14 table interpolated from
    * [[PdqHash.dctTable]] (identical constants by construction),
    * rank-128 median threshold, MSB-first nibble packing, and the
    * gradient quality score. Ends with CTEs `hexs(id, pdq_hex)`,
    * `grad(id, quality)`, and `pbits(id, p, bit)` for pair queries. */
  /** The engine-independent back half of the PDQ SQL replay: takes a
    * `pix(id, x, y, w, h, l)` CTE (integer luma per pixel) through
    * downsample → DCT → median → bits → hex → quality. Shared by the
    * BMP and GIF gates (their pixel synthesis differs, the hash
    * pipeline is one implementation). */
  private def pdqChainCtes: String = s"""
    down AS (
      SELECT id, (y * 64) // h AS cy, (x * 64) // w AS cx,
        CAST((SUM(l) * 256) // COUNT(*) AS BIGINT) AS v
      FROM pix GROUP BY id, (y * 64) // h, (x * 64) // w),
    tab AS (SELECT * FROM (VALUES ${PdqHash.tabSqlValues}) t(fi, k, c)),
    inter AS (
      SELECT p.id, t.fi, p.cx, CAST(SUM(CAST(t.c AS BIGINT) * p.v) AS BIGINT) AS s
      FROM down p JOIN tab t ON t.k = p.cy GROUP BY p.id, t.fi, p.cx),
    outc AS (
      SELECT it.id, it.fi, t.fi AS fj, CAST(SUM(CAST(t.c AS BIGINT) * it.s) AS BIGINT) AS o
      FROM inter it JOIN tab t ON t.k = it.cx GROUP BY it.id, it.fi, t.fi),
    med AS (
      SELECT id, o AS thr FROM (
        SELECT id, o, row_number() OVER (PARTITION BY id ORDER BY o) AS rn FROM outc)
      WHERE rn = 128),
    pbits AS (
      SELECT o.id, o.fi * 16 + o.fj AS p, CASE WHEN o.o > m.thr THEN 1 ELSE 0 END AS bit
      FROM outc o JOIN med m ON m.id = o.id),
    nib AS (
      SELECT id, p // 4 AS c,
        SUM(bit * (CASE p % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) AS nv
      FROM pbits GROUP BY id, p // 4),
    hexs AS (
      SELECT id, string_agg(substring('0123456789abcdef', CAST(nv AS INT) + 1, 1), '' ORDER BY c) AS pdq_hex
      FROM nib GROUP BY id),
    grad AS (
      SELECT id, CAST(LEAST(100, SUM(d) // ${PdqHash.QualityDiv}) AS BIGINT) AS quality FROM (
        SELECT a.id, ABS(b.v - a.v) AS d FROM down a JOIN down b ON b.id = a.id AND b.cy = a.cy AND b.cx = a.cx + 1
        UNION ALL
        SELECT a.id, ABS(b.v - a.v) AS d FROM down a JOIN down b ON b.id = a.id AND b.cy = a.cy + 1 AND b.cx = a.cx
      ) GROUP BY id)"""

  /** Pixel synthesis + hash chain for the BMP gates: RGB scenes keyed
    * by the doc rolling hash, luma'd in SQL exactly as
    * [[PdqHash.luma]] does in the kernel. */
  private def pdqPixelCtes(maxId: Int): String = s"""
    src AS (
      SELECT doc_id AS id,
        list_reduce(
          list_prepend(CAST(7 AS BIGINT),
            list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 1000000007) AS acc
      FROM documents WHERE doc_id < $maxId),
    dims AS (SELECT id, acc % 7 AS g, 72 + (id % 3) * 28 AS w, 64 + (id % 5) * 16 AS h FROM src),
    axis AS (SELECT unnest(generate_series(0, 127)) AS v),
    pix AS (
      SELECT d.id, x.v AS x, y.v AS y, d.w, d.h,
        (299 * ((d.g * 31 + x.v * 2 + y.v * 3 + CASE WHEN x.v // 16 = d.id % 4 AND y.v // 16 = d.id % 6 THEN 40 ELSE 0 END) % 256)
       + 587 * ((d.g * 53 + x.v * 5 + ((x.v * y.v) // 7) % 64) % 256)
       + 114 * ((d.g * 11 + y.v * 7) % 256)) // 1000 AS l
      FROM dims d JOIN axis x ON x.v < d.w JOIN axis y ON y.v < d.h),
    $pdqChainCtes"""

  private def pdqItems(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[Media.MediaItem] = {
    import s.implicits._
    tbl(s, dir, "documents")
      .filter(col("doc_id") < 96)
      .select(col("doc_id"), col("text"))
      .map { r =>
        val id = r.getLong(0)
        val (w, h, px) = synthPixels(id, rollingAcc(r.getString(1)))
        Media.MediaItem(id, "image", Media.encodeBmp24(w, h, px))
      }
  }

  /** PDQ hashes computed FROM PIXELS — synthesized RGB scenes encoded
    * as real 24-bpp BMP containers, decoded back by the real
    * [[Media.bmpPixelDecoder]], hashed by the fixed-point
    * [[PdqHash]] kernel; the oracle replays every stage in SQL. The
    * capability the reference consumes but never computes
    * (`pdq_hash.py:1-20` takes precomputed hex strings). */
  val mediaPdqCompute: QueryDef = QueryDef(
    "media_pdq_compute",
    (s, dir) => Media.pdqHashes(pdqItems(s, dir), Media.bmpPixelDecoder)
      .toDF("id", "pdq_hex", "quality")
      .orderBy("id"),
    Some(s"""
      WITH ${pdqPixelCtes(96)}
      SELECT h.id, h.pdq_hex, g.quality FROM hexs h JOIN grad g ON g.id = h.id ORDER BY h.id
    """.trim)
  )

  /** Color statistics over the SAME BMP scenes: channel means,
    * near-black/white fractions, 64-bucket occupancy — the
    * blank/monochrome triage signals, every value integer-replayed by
    * the oracle from the RGB pixel relation. */
  val imageStatsQ: QueryDef = QueryDef(
    "image_stats",
    (s, dir) => Media.imageStats(pdqItems(s, dir), Media.bmpPixelDecoder)
      .toDF("id", "w", "h", "mean_r", "mean_g", "mean_b",
        "black_micro", "white_micro", "n_buckets", "top_bucket_micro")
      .orderBy("id"),
    Some(s"""
      WITH src AS (
        SELECT doc_id AS id,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) AS acc
        FROM documents WHERE doc_id < 96),
      dims AS (SELECT id, acc % 7 AS g, 72 + (id % 3) * 28 AS w, 64 + (id % 5) * 16 AS h FROM src),
      axis AS (SELECT unnest(generate_series(0, 127)) AS v),
      prgb AS (
        SELECT d.id, d.w, d.h,
          (d.g * 31 + x.v * 2 + y.v * 3 +
            CASE WHEN x.v // 16 = d.id % 4 AND y.v // 16 = d.id % 6 THEN 40 ELSE 0 END) % 256 AS r,
          (d.g * 53 + x.v * 5 + ((x.v * y.v) // 7) % 64) % 256 AS gg,
          (d.g * 11 + y.v * 7) % 256 AS b
        FROM dims d JOIN axis x ON x.v < d.w JOIN axis y ON y.v < d.h),
      st AS (
        SELECT id, max(w) AS w, max(h) AS h, count(*) AS n,
          sum(r) AS sr, sum(gg) AS sg, sum(b) AS sb,
          sum(CASE WHEN r < 16 AND gg < 16 AND b < 16 THEN 1 ELSE 0 END) AS nb,
          sum(CASE WHEN r > 239 AND gg > 239 AND b > 239 THEN 1 ELSE 0 END) AS nw
        FROM prgb GROUP BY id),
      bk AS (SELECT id, (r // 64) * 16 + (gg // 64) * 4 + (b // 64) AS bucket, count(*) AS c
             FROM prgb GROUP BY 1, 2),
      bs AS (SELECT id, count(*) AS n_buckets, max(c) AS topc FROM bk GROUP BY id)
      SELECT st.id AS id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        CAST(sr // n AS BIGINT) AS mean_r, CAST(sg // n AS BIGINT) AS mean_g,
        CAST(sb // n AS BIGINT) AS mean_b,
        CAST((2 * nb * 1000000 + n) // (2 * n) AS BIGINT) AS black_micro,
        CAST((2 * nw * 1000000 + n) // (2 * n) AS BIGINT) AS white_micro,
        CAST(n_buckets AS BIGINT) AS n_buckets,
        CAST((2 * topc * 1000000 + n) // (2 * n) AS BIGINT) AS top_bucket_micro
      FROM st JOIN bs ON bs.id = st.id
      ORDER BY id
    """.trim)
  )

  /** Standalone resize over the same BMP scenes: exact integer box
    * downsample to 24×16 luma, digested per image (count / sum / min /
    * max / position-weighted checksum) so a single moved pixel value
    * flips the gate. Oracle replays the cell averaging relationally
    * from the pixel CTEs. */
  val mediaResize: QueryDef = QueryDef(
    "media_resize",
    (s, dir) => {
      import s.implicits._
      Media.resizeGray(pdqItems(s, dir), Media.bmpPixelDecoder, w2 = 24, h2 = 16)
        .flatMap(r => r.px.zipWithIndex.map { case (v, i) => (r.id, i, v) })
        .toDF("id", "i", "v")
        .groupBy("id")
        .agg(count(lit(1)).as("n"), sum("v").as("sum_v"),
          min("v").as("min_v"), max("v").as("max_v"),
          expr("CAST(sum((i + 1) * v) % 1000000007 AS BIGINT)").as("chk"))
        .orderBy("id")
    },
    Some(s"""
      WITH ${pdqPixelCtes(96)},
      rz AS (
        SELECT id, (y * 16) // h AS cy, (x * 24) // w AS cx,
          CAST(SUM(l) // COUNT(*) AS BIGINT) AS v
        FROM pix GROUP BY 1, 2, 3)
      SELECT id, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v,
        min(v) AS min_v, max(v) AS max_v,
        CAST(SUM((cy * 24 + cx + 1) * v) % 1000000007 AS BIGINT) AS chk
      FROM rz GROUP BY id ORDER BY id
    """.trim)
  )

  /** Composition: pixels → PDQ hashes → [[PdqDuplicates]] similarity
    * join — the full "raw media archive in, duplicate pairs out" path.
    * Threshold 0.875 = Hamming radius 32: measured same-group
    * distances land 0 / 4..52 (the moving-block perturbation), so the
    * radius admits exact AND genuinely-near pairs while cross-group
    * distances (~128) stay out. */
  val mediaPdqComputeDups: QueryDef = QueryDef(
    "media_pdq_compute_dups",
    (s, dir) => {
      val hashes = Media.pdqHashes(pdqItems(s, dir), Media.bmpPixelDecoder)
        .toDF("id", "pdq_hex", "quality")
      val entries = hashes.select(
        lpad(col("id").cast("string"), 8, "0").as("index"),
        array(col("pdq_hex")).as("pdq_hash"))
      Parity.flatPdq(PdqDuplicates(entries, similarityThreshold = 0.875,
        strategy = PdqDuplicates.Strategy.Auto, assumeFixed256 = true))
        .orderBy("index", "duplicate")
    },
    Some(s"""
      WITH ${pdqPixelCtes(96)},
      pairs AS (
        SELECT a.id AS ia, b.id AS ib, SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS dist
        FROM pbits a JOIN pbits b ON a.p = b.p AND a.id < b.id
        GROUP BY a.id, b.id),
      hits AS (SELECT ia, ib, dist FROM pairs WHERE dist <= 32),
      bidir AS (
        SELECT ia AS s_, ib AS d_, dist FROM hits
        UNION ALL SELECT ib, ia, dist FROM hits)
      SELECT lpad(CAST(s_ AS VARCHAR), 8, '0') AS "index",
             lpad(CAST(d_ AS VARCHAR), 8, '0') AS duplicate,
             1.0 - dist / 256.0 AS similarity
      FROM bidir ORDER BY 1, 2
    """.trim)
  )

  /** The daily-ingest contract for a MEDIA archive: 48 corpus images
    * hashed once and persisted as a [[MediaIndex]] (one hash relation,
    * manifest-committed), then a 48-item batch — exact copies,
    * perturbed variants (moved bump block), and novel scenes (different
    * seed) — hashes only itself and classifies against the READ index.
    * No corpus payload is re-decoded at classify time. The oracle synthesizes corpus +
    * all batch variants through the shared chain and classifies from
    * the bit relation. */
  val mediaIndexClassify: QueryDef = QueryDef(
    "media_index_classify",
    (s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpusItems = docs.filter(col("doc_id") < 48).map { r =>
        val c = r.getLong(0)
        val (w, h, px) = synthPixels(c, rollingAcc(r.getString(1)))
        Media.MediaItem(c, "image", Media.encodeBmp24(w, h, px))
      }
      val corpusHashes = Media.pdqHashes(corpusItems).toDF("id", "pdq_hex", "quality")
      val path = gateScratchDir("graft_media_idx_gate")
      // two appended shards + compaction: the archive's daily-ingest
      // accretion AND its small-files counterweight, both in the gate —
      // compaction copies rows verbatim, so the oracle is unchanged
      MediaIndex.writeIndex(
        MediaIndex.build(corpusHashes.filter(col("id") % 2 === 0), "id", "pdq_hex", radius = 32),
        path, mode = org.apache.spark.sql.SaveMode.Overwrite)
      MediaIndex.writeIndex(
        MediaIndex.build(corpusHashes.filter(col("id") % 2 =!= 0), "id", "pdq_hex", radius = 32),
        path, mode = org.apache.spark.sql.SaveMode.Append)
      val compacted = gateScratchDir("graft_media_idx_gate_compact")
      val cPath = new org.apache.hadoop.fs.Path(compacted)
      val cFs = cPath.getFileSystem(s.sessionState.newHadoopConf())
      if (cFs.exists(cPath)) cFs.delete(cPath, true)
      MediaIndex.compactIndex(s, path, compacted)
      val idx = MediaIndex.readIndex(s, compacted)
      val batchItems = docs.filter(col("doc_id") < 16).flatMap { r =>
        val c = r.getLong(0)
        val g = rollingAcc(r.getString(1)) % 7
        def bmp(t: (Int, Int, Array[Int])) = Media.encodeBmp24(t._1, t._2, t._3)
        Seq(
          Media.MediaItem(1000 + c, "image", bmp(synthPixelsWith(c, g, c))), // exact copy
          Media.MediaItem(2000 + c, "image", bmp(synthPixelsWith(c, g, c + 5))), // moved bump
          Media.MediaItem(3000 + c, "image", bmp(synthPixelsWith(c, g + 13, c)))) // novel scene
      }
      val batchHashes = Media.pdqHashes(batchItems).toDF("id", "pdq_hex", "quality")
      MediaIndex.classify(idx, batchHashes, "id", "pdq_hex").orderBy("id")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS c,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) % 7 AS g
        FROM documents WHERE doc_id < 48),
      imgs AS (
        SELECT c AS img, c AS dimid, g, c AS bumpid FROM src
        UNION ALL SELECT 1000 + c, c, g, c FROM src WHERE c < 16
        UNION ALL SELECT 2000 + c, c, g, c + 5 FROM src WHERE c < 16
        UNION ALL SELECT 3000 + c, c, g + 13, c FROM src WHERE c < 16),
      dims AS (SELECT img, g, bumpid, 72 + (dimid % 3) * 28 AS w, 64 + (dimid % 5) * 16 AS h FROM imgs),
      axis AS (SELECT unnest(generate_series(0, 127)) AS v),
      pix AS (
        SELECT d.img AS id, x.v AS x, y.v AS y, d.w, d.h,
          (299 * ((d.g * 31 + x.v * 2 + y.v * 3 + CASE WHEN x.v // 16 = d.bumpid % 4 AND y.v // 16 = d.bumpid % 6 THEN 40 ELSE 0 END) % 256)
         + 587 * ((d.g * 53 + x.v * 5 + ((x.v * y.v) // 7) % 64) % 256)
         + 114 * ((d.g * 11 + y.v * 7) % 256)) // 1000 AS l
        FROM dims d JOIN axis x ON x.v < d.w JOIN axis y ON y.v < d.h),
      $pdqChainCtes,
      bp AS (SELECT id, p, bit FROM pbits WHERE id >= 1000),
      cp AS (SELECT id, p, bit FROM pbits WHERE id < 48),
      dists AS (
        SELECT b.id AS bid, c.id AS cid, SUM(CASE WHEN b.bit <> c.bit THEN 1 ELSE 0 END) AS d
        FROM bp b JOIN cp c ON b.p = c.p GROUP BY 1, 2),
      best AS (
        SELECT bid, cid AS best_match, d AS best_dist FROM (
          SELECT bid, cid, d, row_number() OVER (PARTITION BY bid ORDER BY d, cid) AS rn
          FROM dists WHERE d <= 32) WHERE rn = 1),
      allb AS (SELECT DISTINCT id AS bid FROM pix WHERE id >= 1000)
      SELECT a.bid AS id,
        CASE WHEN b.best_dist = 0 THEN 'exact'
             WHEN b.best_dist IS NOT NULL THEN 'near'
             ELSE 'novel' END AS status,
        b.best_match, b.best_dist
      FROM allb a LEFT JOIN best b ON b.bid = a.bid
      ORDER BY 1
    """.trim)
  )

  /** The AUDIO modality made real: per-doc mono PCM synthesized as a
    * deterministic integer waveform (sawtooth with a louder segment
    * whose position moves with the id), encoded as a REAL 16-bit WAV
    * container, decoded back by [[Media.wavSamples]], and
    * fingerprinted by the shared fixed-point kernel
    * ([[PdqHash.fingerprintSamples]]: box-resample to 4096 → 64×64
    * time plane → Q14 DCT → median threshold). Varying lengths
    * (4096..8096 samples) exercise the resample off the identity
    * path; the oracle replays sample synthesis, bucket means, 8-bit
    * quantization, and the shared hash chain. */
  /** AUDIO near-duplicates end to end: base clips + re-mastered twins
    * (same waveform, the loud segment's amplitude nudged 300→330 —
    * a small re-encode-style perturbation) → WAV → fingerprint → the
    * θ-join `hamming_distance(a, b) <= r`, which the injected rule
    * plans as the pigeonhole band join (the same scale tier every
    * 256-bit hash family rides). The oracle replays BOTH corpora
    * through the fingerprint chain and brute-forces distances. */
  val audioDups: QueryDef = QueryDef(
    "audio_dups",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents").filter(col("doc_id") < 24)
        .select(col("doc_id"), col("text"))
        .flatMap { r =>
          val did = r.getLong(0)
          val g = rollingAcc(r.getString(1)) % 7
          val len = 4096 + (did % 5).toInt * 1000
          def wav(amp: Int) = Media.encodeWav16(16000, Array.tabulate(len) { t =>
            val bump = if (t / 512 == (did % 8).toInt) amp else 0
            (((g * 29 + t * 5 + (t * t / 97) % 512 + bump) % 4096) - 2048).toInt
          })
          Seq(Media.MediaItem(did, "audio", wav(300)),
            Media.MediaItem(did + 1000, "audio", wav(330)))
        }
      val fp = Media.audioFingerprints(items)
        .toDF("id", "fp_hex", "quality", "sample_rate", "n_samples")
        .select(col("id"), unhex(col("fp_hex")).as("h"))
      fp.as("a").join(fp.as("b"),
          graft.plans.HammingDistance(col("a.h"), col("b.h")) <= 40 &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          graft.plans.HammingDistance(col("a.h"), col("b.h")).as("dist"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS did,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) % 7 AS g
        FROM documents WHERE doc_id < 24),
      par AS (
        SELECT did AS id, did AS base, g, 4096 + (did % 5) * 1000 AS len, 300 AS amp FROM src
        UNION ALL
        SELECT did + 1000, did, g, 4096 + (did % 5) * 1000, 330 FROM src),
      ts AS (SELECT unnest(generate_series(0, 9095)) AS t),
      smp AS (
        SELECT p.id AS img, p.len, t.t,
          ((p.g * 29 + t.t * 5 + ((t.t * t.t) // 97) % 512 +
            CASE WHEN t.t // 512 = p.base % 8 THEN p.amp ELSE 0 END) % 4096) - 2048 AS v
        FROM par p JOIN ts t ON t.t < p.len),
      pix AS (
        SELECT img AS id, b % 64 AS x, b // 64 AS y, 64 AS w, 64 AS h,
          (SUM(v + 32768) // COUNT(*)) // 256 AS l
        FROM (SELECT img, (t * 4096) // len AS b, v FROM smp) GROUP BY img, b),
      $pdqChainCtes,
      fbits AS (
        SELECT id, p.g AS p,
          (CAST(strpos('0123456789abcdef', substring(pdq_hex, p.g // 4 + 1, 1)) - 1 AS INT)
            >> (3 - p.g % 4)) & 1 AS bit
        FROM hexs CROSS JOIN LATERAL (SELECT unnest(generate_series(0, 255)) AS g) p)
      SELECT a.id AS id_a, b.id AS id_b,
        CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS dist
      FROM fbits a JOIN fbits b ON a.p = b.p AND a.id < b.id
      GROUP BY 1, 2
      HAVING SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 40
      ORDER BY id_a, id_b
    """.trim)
  )

  val audioFingerprintQ: QueryDef = QueryDef(
    "audio_fingerprint",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents").filter(col("doc_id") < 64)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val did = r.getLong(0)
          val g = rollingAcc(r.getString(1)) % 7
          val len = 4096 + (did % 5).toInt * 1000
          val samples = Array.tabulate(len) { t =>
            val bump = if (t / 512 == (did % 8).toInt) 300 else 0
            (((g * 29 + t * 5 + (t * t / 97) % 512 + bump) % 4096) - 2048).toInt
          }
          Media.MediaItem(did, "audio", Media.encodeWav16(16000, samples))
        }
      Media.audioFingerprints(items)
        .toDF("id", "fp_hex", "quality", "sample_rate", "n_samples")
        .orderBy("id")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS did,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) % 7 AS g
        FROM documents WHERE doc_id < 64),
      par AS (SELECT did, g, 4096 + (did % 5) * 1000 AS len FROM src),
      ts AS (SELECT unnest(generate_series(0, 9095)) AS t),
      smp AS (
        SELECT p.did AS img, p.len, t.t,
          ((p.g * 29 + t.t * 5 + ((t.t * t.t) // 97) % 512 +
            CASE WHEN t.t // 512 = p.did % 8 THEN 300 ELSE 0 END) % 4096) - 2048 AS v
        FROM par p JOIN ts t ON t.t < p.len),
      pix AS (
        SELECT img AS id, b % 64 AS x, b // 64 AS y, 64 AS w, 64 AS h,
          (SUM(v + 32768) // COUNT(*)) // 256 AS l
        FROM (SELECT img, (t * 4096) // len AS b, v FROM smp) GROUP BY img, b),
      $pdqChainCtes
      SELECT h.id, h.pdq_hex AS fp_hex, g.quality,
        16000 AS sample_rate, p.len AS n_samples
      FROM hexs h JOIN grad g ON g.id = h.id JOIN par p ON p.did = h.id
      ORDER BY h.id
    """.trim)
  )

  /** Base + mirrored-twin media items for the dihedral gate: 32 docs
    * at 128×128 (both dims divide 64, so pixel-level flips commute
    * with the downsample EXACTLY and a mirrored repost's `orig` hash
    * equals the original's `flipx` hash bit-for-bit), plus a
    * horizontal mirror under id+1000 for every even doc. */
  private def dihedralItems(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[Media.MediaItem] = {
    import s.implicits._
    tbl(s, dir, "documents").filter(col("doc_id") < 32).select(col("doc_id"), col("text"))
      .flatMap { r =>
        val did = r.getLong(0)
        val g = rollingAcc(r.getString(1)) % 7
        val W = 128
        def pix(x: Int, y: Int): Int = {
          val pert = if (x / 16 == (did % 4).toInt && y / 16 == (did % 6).toInt) 40 else 0
          val rr = ((g * 31 + x * 2 + y * 3 + pert) % 256).toInt
          val gg = ((g * 53 + x * 5 + (x * y / 7) % 64) % 256).toInt
          val bb = ((g * 11 + y * 7) % 256).toInt
          (rr << 16) | (gg << 8) | bb
        }
        val base = Array.tabulate(W * W)(p => pix(p % W, p / W))
        val items = Seq(Media.MediaItem(did, "image", Media.encodeBmp24(W, W, base)))
        if (did % 2 == 0) {
          val mirror = Array.tabulate(W * W)(p => base(p / W * W + (W - 1 - p % W)))
          items :+ Media.MediaItem(did + 1000, "image", Media.encodeBmp24(W, W, mirror))
        } else items
      }
  }

  /** Dihedral (mirror/rotation) matching — the PDQ tier that catches a
    * FLIPPED repost exact-hash joins miss: every image carries its 8
    * dihedral variant hashes (one decode + downsample each), and a
    * variant-vs-orig equi-join surfaces (base, mirrored-twin) pairs
    * under `flipx` alongside identical-scene pairs under `orig`. The
    * oracle synthesizes all 8 pixel-level transforms per image
    * (composite id = img·8 + variant) and replays the shared hash
    * chain — cell-plane and pixel-level transforms agree exactly at
    * 128×128. */
  val mediaPdqDihedral: QueryDef = QueryDef(
    "media_pdq_dihedral",
    (s, dir) => {
      val hashes = Media.pdqHashesDihedral(dihedralItems(s, dir)).toDF()
      val orig = hashes.filter(col("variant_no") === 0)
        .select(col("id").as("id_b"), col("pdq_hex"))
      hashes.select(col("id").as("id_a"), col("variant_no"), col("variant"), col("pdq_hex"))
        .join(orig, Seq("pdq_hex"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("variant_no"), col("variant"))
        .orderBy("id_a", "id_b", "variant_no")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS did,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) % 7 AS g
        FROM documents WHERE doc_id < 32),
      imgs AS (
        SELECT did, g, did AS img, 0 AS mir FROM src
        UNION ALL
        SELECT did, g, did + 1000 AS img, 1 AS mir FROM src WHERE did % 2 = 0),
      axis AS (SELECT unnest(generate_series(0, 127)) AS v),
      lum AS (
        SELECT i.img, x.v AS x, y.v AS y,
          (299 * ((i.g * 31 + sx * 2 + y.v * 3 + CASE WHEN sx // 16 = i.did % 4 AND y.v // 16 = i.did % 6 THEN 40 ELSE 0 END) % 256)
         + 587 * ((i.g * 53 + sx * 5 + ((sx * y.v) // 7) % 64) % 256)
         + 114 * ((i.g * 11 + y.v * 7) % 256)) // 1000 AS l
        FROM imgs i
        JOIN axis x ON true JOIN axis y ON true,
        LATERAL (SELECT CASE WHEN i.mir = 1 THEN 127 - x.v ELSE x.v END AS sx) t),
      vr AS (SELECT unnest(generate_series(0, 7)) AS vv),
      pix AS (
        SELECT l.img * 8 + vr.vv AS id,
          CASE vr.vv WHEN 0 THEN l.x WHEN 1 THEN 127 - l.x WHEN 2 THEN l.x WHEN 3 THEN 127 - l.x
                     WHEN 4 THEN l.y WHEN 5 THEN 127 - l.y WHEN 6 THEN l.y WHEN 7 THEN 127 - l.y END AS x,
          CASE vr.vv WHEN 0 THEN l.y WHEN 1 THEN l.y WHEN 2 THEN 127 - l.y WHEN 3 THEN 127 - l.y
                     WHEN 4 THEN l.x WHEN 5 THEN l.x WHEN 6 THEN 127 - l.x WHEN 7 THEN 127 - l.x END AS y,
          128 AS w, 128 AS h, l.l
        FROM lum l CROSS JOIN vr),
      $pdqChainCtes,
      hx AS (SELECT id // 8 AS img, id % 8 AS vno, pdq_hex FROM hexs)
      SELECT a.img AS id_a, b.img AS id_b, CAST(a.vno AS INT) AS variant_no,
        CASE a.vno WHEN 0 THEN 'orig' WHEN 1 THEN 'flipx' WHEN 2 THEN 'flipy'
                   WHEN 3 THEN 'rot180' WHEN 4 THEN 'transpose' WHEN 5 THEN 'rot90'
                   WHEN 6 THEN 'rot270' ELSE 'antitranspose' END AS variant
      FROM hx a JOIN hx b ON a.pdq_hex = b.pdq_hex AND b.vno = 0 AND a.img < b.img
      ORDER BY 1, 2, 3
    """.trim)
  )

  /** The VIDEO form of the PDQ pipeline, real end to end: per-doc
    * animated GIFs (three grayscale frames, REAL LZW compression)
    * decoded by the pure-JVM [[Media.gifFrames]] (chunk walk, variable
    * code width, dictionary growth) and hashed per frame by the
    * fixed-point kernel — what [[mediaFrames]] stubs, done with a real
    * container and a real decoder. Frames drift (f·11 shift + a moving
    * bump), so per-frame hashes within a doc are near- but not exact
    * duplicates. Gray pixels make SQL luma trivial (luma(v,v,v) = v);
    * the oracle synthesizes the same frames and replays the hash chain. */
  val mediaGifPdq: QueryDef = QueryDef(
    "media_gif_pdq",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .filter(col("doc_id") < 48)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val did = r.getLong(0)
          val g = rollingAcc(r.getString(1)) % 7
          val w = 72 + (did % 3).toInt * 28
          val h = 64 + (did % 5).toInt * 16
          val frames = (0 until 3).map { f =>
            Array.tabulate(w * h) { p =>
              val x = p % w; val y = p / w
              val bump = if (x / 16 == ((did + f) % 4).toInt && y / 16 == ((did + f) % 6).toInt) 40 else 0
              val v = ((g * 29 + x * 2 + y * 3 + f * 11 + bump) % 256).toInt
              (v << 16) | (v << 8) | v
            }
          }
          Media.MediaItem(did, "gif", Media.encodeGifGray(w, h, frames))
        }
      Media.pdqFrames(items, Media.gifFrames)
        .toDF("id", "frame_no", "pdq_hex", "quality")
        .orderBy("id", "frame_no")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS did,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) % 7 AS g
        FROM documents WHERE doc_id < 48),
      dims AS (SELECT did, g, 72 + (did % 3) * 28 AS w, 64 + (did % 5) * 16 AS h FROM src),
      fr AS (SELECT unnest([0, 1, 2]) AS f),
      axis AS (SELECT unnest(generate_series(0, 127)) AS v),
      pix AS (
        SELECT d.did * 4 + fr.f AS id, x.v AS x, y.v AS y, d.w, d.h,
          (d.g * 29 + x.v * 2 + y.v * 3 + fr.f * 11 +
           CASE WHEN x.v // 16 = (d.did + fr.f) % 4 AND y.v // 16 = (d.did + fr.f) % 6 THEN 40 ELSE 0 END) % 256 AS l
        FROM dims d CROSS JOIN fr JOIN axis x ON x.v < d.w JOIN axis y ON y.v < d.h),
      $pdqChainCtes
      SELECT h.id // 4 AS id, CAST(h.id % 4 AS INT) AS frame_no, h.pdq_hex, g.quality
      FROM hexs h JOIN grad g ON g.id = h.id ORDER BY 1, 2
    """.trim)
  )

  /** The CODEC-VIDEO form of the PDQ pipeline, real end to end: per-doc
    * MJPEG-in-AVI clips — three block-constant grayscale frames, each a
    * REAL baseline JPEG in the capture-hardware convention (Annex K
    * standard Huffman, DHT segment OMITTED) inside a RIFF/AVI 'movi'
    * list — decoded by the pure-JVM [[Media.aviFrames]] (RIFF chunk
    * walk → standard-table splice → [[Jpeg.decode]]) and hashed per
    * frame. DC-only blocks round-trip bit-exactly (JpegSpec), so the
    * oracle replays the tile synthesis directly: one flipped bit in
    * the container walk, the table splice, or the entropy decode moves
    * a hash and fails the gate. */
  /** The animated-WebP form of the clip pipeline: the SAME per-frame
    * gray tiles as `media_avi_pdq`, carried as VP8X/ANIM/ANMF frames
    * ([[graft.operators.Webp.encodeWebpAnim]] →
    * [[graft.operators.Webp.webpFrames]]). VP8L is lossless, so the
    * gate shares the AVI oracle verbatim — two entirely different
    * container+codec chains must hash identically, frame for frame. */
  lazy val mediaWebpAnimPdq: QueryDef = QueryDef(
    "media_webp_anim_pdq",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .filter(col("doc_id") < 48)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val did = r.getLong(0)
          val g = rollingAcc(r.getString(1)) % 7
          val w = 72 + (did % 3).toInt * 28
          val h = 64 + (did % 5).toInt * 16
          val frames = (0 until 3).map { f =>
            val rgb = Array.tabulate(w * h) { p =>
              val tx = (p % w) / 8; val ty = (p / w) / 8
              val v = ((g * 37 + tx * 13 + ty * 29 + f * 17) % 256).toInt
              (v << 16) | (v << 8) | v
            }
            (w, h, rgb)
          }
          Media.MediaItem(did, "video", graft.operators.Webp.encodeWebpAnim(frames))
        }
      Media.pdqFrames(items, graft.operators.Webp.webpFrames)
        .toDF("id", "frame_no", "pdq_hex", "quality")
        .orderBy("id", "frame_no")
    },
    mediaAviPdq.oracle // lazy: shares the AVI pixel-chain replay verbatim
  )

  /** The MP4 form of the clip pipeline: the SAME per-frame gray tiles
    * as `media_avi_pdq`, carried as a `jpeg`-codec track in a real ISO
    * BMFF file ([[graft.sources.Mp4.encodeMp4Jpeg]], DHT-less frames,
    * two-samples-per-chunk `stsc` packing) and decoded by the
    * magic-dispatching [[Media.autoFrames]] (ftyp → box walk → sample
    * tables → Annex-K splice → [[Jpeg.decode]]). Shares the AVI
    * pixel-chain oracle verbatim — the THIRD unrelated container chain
    * that must hash identically, frame for frame. */
  lazy val mediaMp4Pdq: QueryDef = QueryDef(
    "media_mp4_pdq",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .filter(col("doc_id") < 48)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val did = r.getLong(0)
          val g = rollingAcc(r.getString(1)) % 7
          val w = 72 + (did % 3).toInt * 28
          val h = 64 + (did % 5).toInt * 16
          val jpegs = (0 until 3).map { f =>
            val gray = Array.tabulate(w * h) { p =>
              val tx = (p % w) / 8; val ty = (p / w) / 8
              ((g * 37 + tx * 13 + ty * 29 + f * 17) % 256).toInt
            }
            Jpeg.encodeGray(w, h, gray, stdHuffman = true, omitDht = true)
          }
          Media.MediaItem(did, "video", graft.sources.Mp4.encodeMp4Jpeg(w, h, jpegs))
        }
      Media.pdqFrames(items, Media.autoFrames)
        .toDF("id", "frame_no", "pdq_hex", "quality")
        .orderBy("id", "frame_no")
    },
    mediaAviPdq.oracle // lazy: shares the AVI pixel-chain replay verbatim
  )

  /** Decode-free video triage — the operation a 100 TB curation run
    * does FIRST: per-file track metadata (codec, dims, timescale,
    * duration, sample count, keyframe cadence) read from the `moov`
    * tree only, no sample decoded ([[graft.sources.Mp4.tracks]]).
    * Fixtures vary every axis independently (frame count, fps, sync
    * cadence, width); the oracle reconstructs all of it
    * arithmetically, so a mis-parsed `stss`/`stts`/`mdhd` field
    * cannot hide. */
  val mp4Meta: QueryDef = QueryDef(
    "mp4_meta",
    (s, dir) => {
      import s.implicits._
      tbl(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"))
        .map { r =>
          val did = r.getLong(0)
          val n = 2 + (did % 4).toInt
          val fps = 5 + (did % 3).toInt
          val se = 1 + (did % 3).toInt
          val w = 16 + 8 * (did % 2).toInt
          val gray = Array.tabulate(w * 16)(p => ((p * 7 + did) % 256).toInt)
          val jpegs = (0 until n).map(_ => Jpeg.encodeGray(w, 16, gray))
          val t = graft.sources.Mp4.tracks(
            graft.sources.Mp4.encodeMp4Jpeg(w, 16, jpegs, fps, se)).head
          (did, t.codec, t.width, t.height, t.timescale, t.duration, t.nSamples, t.nSync)
        }
        .toDF("id", "codec", "width", "height", "timescale_u", "duration_u",
          "n_samples", "n_sync")
        .orderBy("id")
    },
    Some("""
      SELECT doc_id AS id, 'jpeg' AS codec,
        CAST(16 + 8 * (doc_id % 2) AS INT) AS width, CAST(16 AS INT) AS height,
        (5 + doc_id % 3) * 1000 AS timescale_u,
        (2 + doc_id % 4) * 1000 AS duration_u,
        2 + doc_id % 4 AS n_samples,
        (1 + doc_id % 4) // (1 + doc_id % 3) + 1 AS n_sync
      FROM documents WHERE doc_id < 200 ORDER BY id
    """.trim)
  )

  val mediaAviPdq: QueryDef = QueryDef(
    "media_avi_pdq",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .filter(col("doc_id") < 48)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val did = r.getLong(0)
          val g = rollingAcc(r.getString(1)) % 7
          val w = 72 + (did % 3).toInt * 28
          val h = 64 + (did % 5).toInt * 16
          val jpegs = (0 until 3).map { f =>
            val gray = Array.tabulate(w * h) { p =>
              val tx = (p % w) / 8; val ty = (p / w) / 8
              ((g * 37 + tx * 13 + ty * 29 + f * 17) % 256).toInt
            }
            Jpeg.encodeGray(w, h, gray, stdHuffman = true, omitDht = true)
          }
          Media.MediaItem(did, "video", Media.encodeAviMjpeg(w, h, jpegs))
        }
      Media.pdqFrames(items, Media.aviFrames)
        .toDF("id", "frame_no", "pdq_hex", "quality")
        .orderBy("id", "frame_no")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS did,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) % 7 AS g
        FROM documents WHERE doc_id < 48),
      dims AS (SELECT did, g, 72 + (did % 3) * 28 AS w, 64 + (did % 5) * 16 AS h FROM src),
      fr AS (SELECT unnest([0, 1, 2]) AS f),
      axis AS (SELECT unnest(generate_series(0, 127)) AS v),
      pix AS (
        SELECT d.did * 4 + fr.f AS id, x.v AS x, y.v AS y, d.w, d.h,
          (d.g * 37 + (x.v // 8) * 13 + (y.v // 8) * 29 + fr.f * 17) % 256 AS l
        FROM dims d CROSS JOIN fr JOIN axis x ON x.v < d.w JOIN axis y ON y.v < d.h),
      $pdqChainCtes
      SELECT h.id // 4 AS id, CAST(h.id % 4 AS INT) AS frame_no, h.pdq_hex, g.quality
      FROM hexs h JOIN grad g ON g.id = h.id ORDER BY 1, 2
    """.trim)
  )

  /** Temporal-offset recovery between two clips of the same scene:
    * clip A = frames 0..4 of a per-doc animation, clip B = frames
    * k..k+4 (k = doc_id mod 4) re-encoded with a +3 brightness shift —
    * a delayed, slightly re-graded copy. Both ride REAL GIF containers
    * through [[Media.gifFrames]] + the fixed-point PDQ kernel;
    * [[Media.alignFrameOffset]] recovers k as the argmin of mean
    * Hamming distance over candidate shifts (one equi-join, combinable
    * argmin — no window). The oracle synthesizes A's five frames and
    * B's five shifted+brightened frames through the shared SQL hash
    * chain and replays the shift-and-score. */
  val mediaOffsetAlign: QueryDef = QueryDef(
    "media_offset_align",
    (s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents")
        .filter(col("doc_id") < 24)
        .select(col("doc_id"), col("text"))
      def clip(side: Int) = docs.map { r =>
        val did = r.getLong(0)
        val g = rollingAcc(r.getString(1)) % 7
        val w = 72 + (did % 3).toInt * 28
        val h = 64 + (did % 5).toInt * 16
        val k = if (side == 0) 0L else did % 4
        val delta = if (side == 0) 0 else 3
        val frames = (0 until 5).map { f =>
          val fo = k + f
          Array.tabulate(w * h) { p =>
            val x = p % w; val y = p / w
            val bump = if (x / 16 == ((did + fo) % 4).toInt && y / 16 == ((did + fo) % 6).toInt) 40 else 0
            val v = ((g * 29 + x * 2 + y * 3 + fo * 11 + delta + bump) % 256).toInt
            (v << 16) | (v << 8) | v
          }
        }
        Media.MediaItem(did, "gif", Media.encodeGifGray(w, h, frames))
      }
      val ah = Media.pdqFrames(clip(0), Media.gifFrames).toDF("id", "frame_no", "pdq_hex", "quality")
      val bh = Media.pdqFrames(clip(1), Media.gifFrames).toDF("id", "frame_no", "pdq_hex", "quality")
      Media.alignFrameOffset(ah, bh, maxShift = 3).orderBy("id")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS did,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) % 7 AS g
        FROM documents WHERE doc_id < 24),
      dims AS (SELECT did, g, 72 + (did % 3) * 28 AS w, 64 + (did % 5) * 16 AS h, did % 4 AS k FROM src),
      sl AS (SELECT unnest(generate_series(0, 4)) AS f),
      sides AS (SELECT 0 AS sb UNION ALL SELECT 1),
      fr2 AS (
        SELECT d.*, sl.f, sides.sb,
          CASE WHEN sides.sb = 0 THEN sl.f ELSE d.k + sl.f END AS fo,
          CASE WHEN sides.sb = 0 THEN 0 ELSE 3 END AS delta
        FROM dims d CROSS JOIN sl CROSS JOIN sides),
      axis AS (SELECT unnest(generate_series(0, 127)) AS v),
      pix AS (
        SELECT d.did * 16 + d.sb * 8 + d.f AS id, x.v AS x, y.v AS y, d.w, d.h,
          (d.g * 29 + x.v * 2 + y.v * 3 + d.fo * 11 + d.delta +
           CASE WHEN x.v // 16 = (d.did + d.fo) % 4 AND y.v // 16 = (d.did + d.fo) % 6 THEN 40 ELSE 0 END) % 256 AS l
        FROM fr2 d JOIN axis x ON x.v < d.w JOIN axis y ON y.v < d.h),
      $pdqChainCtes,
      frames AS (SELECT id // 16 AS did, (id % 16) // 8 AS sb, id % 8 AS f, id FROM hexs),
      offs AS (SELECT unnest(generate_series(0, 3)) AS o),
      cand AS (
        SELECT b.did, offs.o, b.f AS bf, b.id AS idb, a.id AS ida
        FROM frames b CROSS JOIN offs
        JOIN frames a ON a.did = b.did AND a.sb = 0 AND a.f = b.f + offs.o
        WHERE b.sb = 1 AND b.f + offs.o <= 4),
      dist AS (
        SELECT c.did, c.o, c.bf, SUM(CASE WHEN pa.bit <> pb.bit THEN 1 ELSE 0 END) AS d
        FROM cand c
        JOIN pbits pa ON pa.id = c.ida
        JOIN pbits pb ON pb.id = c.idb AND pb.p = pa.p
        GROUP BY c.did, c.o, c.bf),
      agg AS (
        SELECT did, o, SUM(d) AS sum_d, COUNT(*) AS n_frames,
          CAST(SUM(d) AS DOUBLE) / COUNT(*) AS avg_dist
        FROM dist GROUP BY 1, 2),
      best AS (
        SELECT did, o, avg_dist, n_frames,
          row_number() OVER (PARTITION BY did ORDER BY avg_dist, o) AS rn
        FROM agg)
      SELECT did AS id, CAST(o AS INT) AS best_offset, avg_dist, n_frames
      FROM best WHERE rn = 1 ORDER BY id
    """.trim)
  )

  /** Shot-boundary detection over real GIF clips: six frames per doc
    * with a planted scene CUT at frame 2 + did mod 3 (the gradient
    * orientation flips — a structural DCT change, not a luma shift the
    * hash ignores); within-scene frames differ only by the small moving
    * bump block. A cut is a
    * consecutive-frame PDQ distance above threshold
    * ([[Media.shotBoundaries]]); the oracle replays frames, hashes,
    * lagged bit distances, and the running shot counter in SQL. */
  val mediaShotCuts: QueryDef = QueryDef(
    "media_shot_cuts",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .filter(col("doc_id") < 32)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val did = r.getLong(0)
          val g = rollingAcc(r.getString(1)) % 7
          val w = 72 + (did % 3).toInt * 28
          val h = 64 + (did % 5).toInt * 16
          val c = 2 + (did % 3).toInt
          val frames = (0 until 6).map { f =>
            Array.tabulate(w * h) { p =>
              val x = p % w; val y = p / w
              val bump = if (x / 16 == ((did + f) % 4).toInt && y / 16 == ((did + f) % 6).toInt) 40 else 0
              val v = (if (f < c) (g * 29 + x * 2 + y * 3 + bump) % 256
                       else (g * 13 + x * 5 + y * 2 + bump) % 256).toInt
              (v << 16) | (v << 8) | v
            }
          }
          Media.MediaItem(did, "gif", Media.encodeGifGray(w, h, frames))
        }
      Media.shotBoundaries(
        Media.pdqFrames(items, Media.gifFrames).toDF("id", "frame_no", "pdq_hex", "quality"),
        threshold = 106)
        .orderBy("id", "frame_no")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS did,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) % 7 AS g
        FROM documents WHERE doc_id < 32),
      dims AS (SELECT did, g, 72 + (did % 3) * 28 AS w, 64 + (did % 5) * 16 AS h,
                      2 + did % 3 AS c FROM src),
      fr AS (SELECT unnest(generate_series(0, 5)) AS f),
      axis AS (SELECT unnest(generate_series(0, 127)) AS v),
      pix AS (
        SELECT d.did * 8 + fr.f AS id, x.v AS x, y.v AS y, d.w, d.h,
          CASE WHEN fr.f < d.c
            THEN (d.g * 29 + x.v * 2 + y.v * 3 +
                  CASE WHEN x.v // 16 = (d.did + fr.f) % 4 AND y.v // 16 = (d.did + fr.f) % 6 THEN 40 ELSE 0 END) % 256
            ELSE (d.g * 13 + x.v * 5 + y.v * 2 +
                  CASE WHEN x.v // 16 = (d.did + fr.f) % 4 AND y.v // 16 = (d.did + fr.f) % 6 THEN 40 ELSE 0 END) % 256
          END AS l
        FROM dims d CROSS JOIN fr JOIN axis x ON x.v < d.w JOIN axis y ON y.v < d.h),
      $pdqChainCtes,
      fd AS (
        SELECT a.id // 8 AS did, a.id % 8 AS f,
          CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS d
        FROM pbits a JOIN pbits b ON b.id = a.id - 1 AND b.p = a.p
        WHERE a.id % 8 >= 1
        GROUP BY 1, 2),
      fall AS (SELECT id // 8 AS did, id % 8 AS f FROM hexs)
      SELECT f.did AS id, CAST(f.f AS INT) AS frame_no, fd.d AS dist_prev,
        CAST(CASE WHEN f.f = 0 OR fd.d > 106 THEN 1 ELSE 0 END AS INT) AS is_cut,
        CAST(SUM(CASE WHEN f.f = 0 OR fd.d > 106 THEN 1 ELSE 0 END)
               OVER (PARTITION BY f.did ORDER BY f.f
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS shot_no
      FROM fall f LEFT JOIN fd ON fd.did = f.did AND fd.f = f.f
      ORDER BY id, frame_no
    """.trim)
  )

  /** Keyframe selection over the SAME multi-shot GIF scenes as
    * `media_shot_cuts`: one representative per (clip, shot) — the
    * shot's highest-PDQ-quality frame, ties to the earliest — so a
    * video archive indexes |shots| rows, not |frames|. The oracle
    * extends the shot-boundary replay with the gradient-quality
    * relation and the same argmax window. */
  val mediaKeyframes: QueryDef = QueryDef(
    "media_keyframes",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .filter(col("doc_id") < 32)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val did = r.getLong(0)
          val g = rollingAcc(r.getString(1)) % 7
          val w = 72 + (did % 3).toInt * 28
          val h = 64 + (did % 5).toInt * 16
          val c = 2 + (did % 3).toInt
          val frames = (0 until 6).map { f =>
            Array.tabulate(w * h) { p =>
              val x = p % w; val y = p / w
              val bump = if (x / 16 == ((did + f) % 4).toInt && y / 16 == ((did + f) % 6).toInt) 40 else 0
              val v = (if (f < c) (g * 29 + x * 2 + y * 3 + bump) % 256
                       else (g * 13 + x * 5 + y * 2 + bump) % 256).toInt
              (v << 16) | (v << 8) | v
            }
          }
          Media.MediaItem(did, "gif", Media.encodeGifGray(w, h, frames))
        }
      Media.keyframes(
        Media.pdqFrames(items, Media.gifFrames).toDF("id", "frame_no", "pdq_hex", "quality"),
        threshold = 106)
        .orderBy("id", "shot_no")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS did,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) % 7 AS g
        FROM documents WHERE doc_id < 32),
      dims AS (SELECT did, g, 72 + (did % 3) * 28 AS w, 64 + (did % 5) * 16 AS h,
                      2 + did % 3 AS c FROM src),
      fr AS (SELECT unnest(generate_series(0, 5)) AS f),
      axis AS (SELECT unnest(generate_series(0, 127)) AS v),
      pix AS (
        SELECT d.did * 8 + fr.f AS id, x.v AS x, y.v AS y, d.w, d.h,
          CASE WHEN fr.f < d.c
            THEN (d.g * 29 + x.v * 2 + y.v * 3 +
                  CASE WHEN x.v // 16 = (d.did + fr.f) % 4 AND y.v // 16 = (d.did + fr.f) % 6 THEN 40 ELSE 0 END) % 256
            ELSE (d.g * 13 + x.v * 5 + y.v * 2 +
                  CASE WHEN x.v // 16 = (d.did + fr.f) % 4 AND y.v // 16 = (d.did + fr.f) % 6 THEN 40 ELSE 0 END) % 256
          END AS l
        FROM dims d CROSS JOIN fr JOIN axis x ON x.v < d.w JOIN axis y ON y.v < d.h),
      $pdqChainCtes,
      fd AS (
        SELECT a.id // 8 AS did, a.id % 8 AS f,
          CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS d
        FROM pbits a JOIN pbits b ON b.id = a.id - 1 AND b.p = a.p
        WHERE a.id % 8 >= 1
        GROUP BY 1, 2),
      fall AS (SELECT id // 8 AS did, id % 8 AS f FROM hexs),
      sb AS (
        SELECT f.did, f.f,
          CAST(SUM(CASE WHEN f.f = 0 OR fd.d > 106 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY f.did ORDER BY f.f
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS shot_no
        FROM fall f LEFT JOIN fd ON fd.did = f.did AND fd.f = f.f),
      pick AS (
        SELECT sb.did, sb.shot_no, sb.f, h.pdq_hex, g.quality,
          row_number() OVER (PARTITION BY sb.did, sb.shot_no
                             ORDER BY g.quality DESC, sb.f) AS rn
        FROM sb
        JOIN hexs h ON h.id = sb.did * 8 + sb.f
        JOIN grad g ON g.id = h.id)
      SELECT did AS id, shot_no, CAST(f AS INT) AS keyframe_no, pdq_hex, quality
      FROM pick WHERE rn = 1
      ORDER BY id, shot_no
    """.trim)
  )

  /** Clip-level identity: per-bit MAJORITY pooling of the per-frame
    * PDQ hashes over the SAME multi-shot GIF scenes — one 256-bit hash
    * per clip, ready for the existing Hamming join tier. Oracle:
    * majority + nibble/hex reassembly straight from the `pbits`
    * relation. */
  /** The shared clip corpus of the clip-level gates (`media_clip_hash`,
    * `media_clip_dups`, `media_tmk_score`): 32 multi-frame GIFs whose
    * scene family, dims, and cut point vary per doc. */
  private def mediaClipItems(s: SparkSession, dir: String):
      org.apache.spark.sql.Dataset[Media.MediaItem] = {
    import s.implicits._
    tbl(s, dir, "documents")
      .filter(col("doc_id") < 32)
      .select(col("doc_id"), col("text"))
      .map { r =>
        val did = r.getLong(0)
        val g = rollingAcc(r.getString(1)) % 7
        val w = 72 + (did % 3).toInt * 28
        val h = 64 + (did % 5).toInt * 16
        val c = 2 + (did % 3).toInt
        val frames = (0 until 6).map { f =>
          Array.tabulate(w * h) { p =>
            val x = p % w; val y = p / w
            val bump = if (x / 16 == ((did + f) % 4).toInt && y / 16 == ((did + f) % 6).toInt) 40 else 0
            val v = (if (f < c) (g * 29 + x * 2 + y * 3 + bump) % 256
                     else (g * 13 + x * 5 + y * 2 + bump) % 256).toInt
            (v << 16) | (v << 8) | v
          }
        }
        Media.MediaItem(did, "gif", Media.encodeGifGray(w, h, frames))
      }
  }

  val mediaClipHash: QueryDef = QueryDef(
    "media_clip_hash",
    (s, dir) => {
      Media.clipHash(
        Media.pdqFrames(mediaClipItems(s, dir), Media.gifFrames)
          .toDF("id", "frame_no", "pdq_hex", "quality"))
        .orderBy("id")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS did,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) % 7 AS g
        FROM documents WHERE doc_id < 32),
      dims AS (SELECT did, g, 72 + (did % 3) * 28 AS w, 64 + (did % 5) * 16 AS h,
                      2 + did % 3 AS c FROM src),
      fr AS (SELECT unnest(generate_series(0, 5)) AS f),
      axis AS (SELECT unnest(generate_series(0, 127)) AS v),
      pix AS (
        SELECT d.did * 8 + fr.f AS id, x.v AS x, y.v AS y, d.w, d.h,
          CASE WHEN fr.f < d.c
            THEN (d.g * 29 + x.v * 2 + y.v * 3 +
                  CASE WHEN x.v // 16 = (d.did + fr.f) % 4 AND y.v // 16 = (d.did + fr.f) % 6 THEN 40 ELSE 0 END) % 256
            ELSE (d.g * 13 + x.v * 5 + y.v * 2 +
                  CASE WHEN x.v // 16 = (d.did + fr.f) % 4 AND y.v // 16 = (d.did + fr.f) % 6 THEN 40 ELSE 0 END) % 256
          END AS l
        FROM dims d CROSS JOIN fr JOIN axis x ON x.v < d.w JOIN axis y ON y.v < d.h),
      $pdqChainCtes,
      cb AS (SELECT id // 8 AS did, p, SUM(bit) AS ones, COUNT(*) AS n FROM pbits GROUP BY 1, 2),
      cm AS (SELECT did, p, n, CASE WHEN 2 * ones > n THEN 1 ELSE 0 END AS mb FROM cb),
      cn AS (SELECT did, p // 4 AS c, max(n) AS n,
               SUM(mb * (CASE p % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) AS nv
             FROM cm GROUP BY 1, 2)
      SELECT did AS id, CAST(max(n) AS BIGINT) AS n_frames,
        string_agg(substring('0123456789abcdef', CAST(nv AS INT) + 1, 1), '' ORDER BY c) AS clip_hex
      FROM cn GROUP BY did ORDER BY id
    """.trim)
  )

  /** Near-duplicate CLIPS: the promised composition — majority-pooled
    * clip hashes straight into the codegen Hamming kernel. Clips
    * sharing a scene family (same g) pool to nearby hashes; the pair
    * relation at radius 80 must match the oracle's bit-level replay. */
  val mediaClipDups: QueryDef = QueryDef(
    "media_clip_dups",
    (s, dir) => {
      import graft.functions.HashFunctions.canonicalHex64
      val clips = mediaClipHash.run(s, dir)
        .select(col("id"), unhex(canonicalHex64(col("clip_hex"))).as("w"))
      clips.as("a").join(clips.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          graft.plans.HammingDistance(col("a.w"), col("b.w")).as("dist"))
        .filter(col("dist") <= 80)
        .orderBy("id_a", "id_b")
    },
    Some {
      val inner = mediaClipHash.oracle.get.replaceAll("ORDER BY id\\s*$", "")
      s"""
      WITH ch AS ($inner),
      cbits AS (
        SELECT id, p.g AS p,
          (CAST(strpos('0123456789abcdef', substring(clip_hex, p.g // 4 + 1, 1)) - 1 AS INT)
            >> (3 - p.g % 4)) & 1 AS bit
        FROM ch CROSS JOIN LATERAL (SELECT unnest(generate_series(0, 255)) AS g) p)
      SELECT a.id AS id_a, b.id AS id_b,
        CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS dist
      FROM cbits a JOIN cbits b ON a.p = b.p AND a.id < b.id
      GROUP BY 1, 2
      HAVING SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 80
      ORDER BY id_a, id_b
      """.trim
    }
  )

  /** TMK-style temporal pooling + offset-probing pair scores over the
    * SAME clip corpus as `media_clip_hash`: per-frame PDQ bits pool
    * under fixed-point cos/sin period weights into 256-row descriptors
    * (frames gone after ONE map-combinable groupBy), then every pair
    * scores at offsets Δ=0..3 via the integer rotation identity. At
    * scale the pair relation is the banded clip-hash join's survivors;
    * the gate probes all pairs of its 32 clips. The oracle replays
    * pixels → PDQ chain → pooling → rotation scores with the SAME
    * weight literals [[graft.operators.graft.operators.Tmk.cosTable]] renders. */
  val mediaTmkScore: QueryDef = QueryDef(
    "media_tmk_score",
    (s, dir) => {
      val frames = Media.pdqFrames(mediaClipItems(s, dir), Media.gifFrames)
        .toDF("id", "frame_no", "pdq_hex", "quality")
      val pooled = graft.operators.Tmk.tmkPool(frames, "id", "frame_no", "pdq_hex", Seq(1, 4, 8))
      val ids = pooled.select(col("id")).distinct()
      val pairs = ids.select(col("id").as("id_a"))
        .join(ids.select(col("id").as("id_b")), col("id_a") < col("id_b"))
      graft.operators.Tmk.tmkScorePairs(pooled, pairs, Seq(1, 4, 8), maxDelta = 3)
        .orderBy("id_a", "id_b")
    },
    Some {
      val periods = Seq(1, 4, 8)
      val inner = mediaClipHash.oracle.get
      // reuse media_clip_hash's pixel chain up to pbits: strip its
      // final clip-majority stages and final SELECT
      val upToPbits = inner.substring(0, inner.indexOf(",\n      cb AS"))
      val poolCols = periods.flatMap { p =>
        Seq(
          s"SUM(sgn * list_extract(CAST(${graft.operators.Tmk.tableSql(graft.operators.Tmk.cosTable(p))} AS BIGINT[]), (t % $p) + 1)) AS pc_$p",
          s"SUM(sgn * list_extract(CAST(${graft.operators.Tmk.tableSql(graft.operators.Tmk.sinTable(p))} AS BIGINT[]), (t % $p) + 1)) AS ps_$p")
      }.mkString(",\n          ")
      val deltas = (0 to 3).map { d =>
        val body = periods.map { p =>
          val cw = graft.operators.Tmk.cosTable(p)(d % p)
          val sw = graft.operators.Tmk.sinTable(p)(d % p)
          s"$cw * (a.pc_$p * b.pc_$p + a.ps_$p * b.ps_$p) + $sw * (a.pc_$p * b.ps_$p - a.ps_$p * b.pc_$p)"
        }.mkString(" + ")
        s"SUM($body) AS s$d"
      }.mkString(",\n          ")
      s"""
      $upToPbits,
      tp AS (SELECT id // 8 AS cid, id % 8 AS t, p AS b, 2 * bit - 1 AS sgn FROM pbits),
      pooled AS (
        SELECT cid, b,
          $poolCols
        FROM tp GROUP BY cid, b),
      pr AS (
        SELECT a.cid AS id_a, b.cid AS id_b,
          $deltas
        FROM pooled a JOIN pooled b ON a.b = b.b AND a.cid < b.cid
        GROUP BY 1, 2)
      SELECT id_a, id_b,
        CASE WHEN s0 = g THEN 0 WHEN s1 = g THEN 1 WHEN s2 = g THEN 2 ELSE 3 END AS best_delta,
        CAST(g AS BIGINT) AS best_score
      FROM (SELECT id_a, id_b, s0, s1, s2, s3, greatest(s0, s1, s2, s3) AS g FROM pr)
      ORDER BY id_a, id_b
      """.trim
    }
  )

  /** The TIFF form of the PDQ pipeline: the SAME synthesized RGB
    * scenes as `media_pdq_compute`, carried through the TIFF container
    * ([[Media.encodeTiffRgb]] → [[Media.tiffPixelDecoder]]) instead of
    * BMP. TIFF is lossless, so the gate shares the BMP gate's oracle
    * verbatim — the two containers must produce identical hashes, and
    * any drift in the IFD walk / strip assembly flips rows. */
  val mediaTiffPdq: QueryDef = QueryDef(
    "media_tiff_pdq",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .filter(col("doc_id") < 96)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val id = r.getLong(0)
          val (w, h, px) = synthPixels(id, rollingAcc(r.getString(1)))
          Media.MediaItem(id, "image", Media.encodeTiffRgb(w, h, px))
        }
      Media.pdqHashes(items, Media.tiffPixelDecoder)
        .toDF("id", "pdq_hex", "quality")
        .orderBy("id")
    },
    mediaPdqCompute.oracle
  )

  /** The DEEP-TIFF form: the SAME scenes through the archival-grade
    * container features round 8 added — TILE layout (32×32 grid, edge
    * tiles clipped), LZW compression (§13 early-change) and horizontal
    * predictor 2 ([[Media.encodeTiffRgbTiledLzw]] →
    * [[Media.tiffPixelDecoder]]). The chain is lossless, so the gate
    * shares the BMP oracle verbatim: a single bit of drift anywhere in
    * the tile scatter, LZW table sync or differencing undo flips rows. */
  val mediaTiffDeepPdq: QueryDef = QueryDef(
    "media_tiff_deep_pdq",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .filter(col("doc_id") < 96)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val id = r.getLong(0)
          val (w, h, px) = synthPixels(id, rollingAcc(r.getString(1)))
          Media.MediaItem(id, "image", Media.encodeTiffRgbTiledLzw(w, h, px, 32, 32))
        }
      Media.pdqHashes(items, Media.tiffPixelDecoder)
        .toDF("id", "pdq_hex", "quality")
        .orderBy("id")
    },
    mediaPdqCompute.oracle
  )

  /** The WebP form: the SAME scenes through the VP8L lossless
    * container ([[graft.operators.Webp.encodeWebpLossless]] →
    * [[graft.operators.Webp.webpPixelDecoder]]). The write side is the
    * repo's minimal literal-only stream; the DECODE side is the full
    * RFC 9649 implementation whose transforms/LZ77/cache/meta paths
    * are pinned against real libwebp output in WebpSpec. Lossless, so
    * the gate shares the BMP oracle verbatim. */
  val mediaWebpPdq: QueryDef = QueryDef(
    "media_webp_pdq",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .filter(col("doc_id") < 96)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val id = r.getLong(0)
          val (w, h, px) = synthPixels(id, rollingAcc(r.getString(1)))
          Media.MediaItem(id, "image", graft.operators.Webp.encodeWebpLossless(w, h, px))
        }
      Media.pdqHashes(items, graft.operators.Webp.webpPixelDecoder)
        .toDF("id", "pdq_hex", "quality")
        .orderBy("id")
    },
    mediaPdqCompute.oracle
  )

  /** Real libwebp-encoded LOSSY WebP (VP8 key frames) through the
    * pure-JVM [[graft.operators.Vp8]] decoder. Unlike the lossless
    * gates there is no in-repo encoder (writing a VP8 encoder would
    * prove nothing about decode), so the fixtures are four REAL
    * `WebPEncodeRGBA` outputs embedded verbatim (82-424 bytes each,
    * dev-time generated, quality/content/size sweep), and the oracle's
    * expected rows are per-plane sums + order-pinning weighted digests
    * of libwebp's OWN `WebPDecodeYUV` golden planes — computed from the
    * reference decoder at dev time, never from this repo's decoder.
    * VP8 reconstruction is bit-exact by spec, so one flipped bit in
    * any table/tree/predictor/filter path moves a digest. The full
    * per-byte validation lives in Vp8Spec; this gate keeps the lossy
    * path on the driver's correctness board. */
  val mediaWebpLossy: QueryDef = QueryDef(
    "media_webp_lossy",
    (s, dir) => {
      import s.implicits._
      val fixtures = graft.queries.Vp8Fixtures.all.toSeq
      s.createDataset(fixtures).repartition(fixtures.size)
        .map { case (name, b64) =>
          val f = graft.operators.Vp8.decodeWebp(java.util.Base64.getDecoder.decode(b64))
          val P = 1000000007L
          def digests(pl: Array[Byte]): (Long, Long) = {
            var sum = 0L; var wd = 0L; var i = 0
            while (i < pl.length) {
              val v = pl(i) & 0xff
              sum += v; wd = (wd + (i + 1).toLong * v) % P
              i += 1
            }
            (sum, wd)
          }
          val (ys, yw) = digests(f.y)
          val (us, uw) = digests(f.u)
          val (vs, vw) = digests(f.v)
          (name, f.w, f.h, ys, us, vs, yw, uw, vw)
        }
        .toDF("name", "width", "height", "y_sum", "u_sum", "v_sum", "y_wdig", "u_wdig", "v_wdig")
        .orderBy("name")
    },
    Some("""
      SELECT name, CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
        CAST(y_sum AS BIGINT) AS y_sum, CAST(u_sum AS BIGINT) AS u_sum,
        CAST(v_sum AS BIGINT) AS v_sum, CAST(y_wdig AS BIGINT) AS y_wdig,
        CAST(u_wdig AS BIGINT) AS u_wdig, CAST(v_wdig AS BIGINT) AS v_wdig
      FROM (VALUES
        ('flat_blocks_q50', 128, 96, 1224960, 414069, 298306, 293173066, 609007772, 424345500),
        ('one_mb_q60', 16, 16, 28921, 6405, 8473, 4511520, 201820, 244529),
        ('photo_q75', 161, 113, 2318729, 560303, 619347, 441695961, 274634868, 367416402),
        ('tiny_5x7_q80', 5, 7, 3736, 1478, 1485, 82830, 9450, 8644)
      ) AS t(name, width, height, y_sum, u_sum, v_sum, y_wdig, u_wdig, v_wdig)
      ORDER BY name
    """.trim)
  )

  /** WebM video ingest ([[graft.sources.Webm]]): each embedded real-VP8
    * fixture muxed into a WebM container (EBML header + Segment/Info/
    * Tracks/Cluster, keyframe SimpleBlocks at 40 ms spacing — two
    * frames per file so timestamps exercise the cluster+block path),
    * plus one V_VP9 file that must surface as a loud triage marker, all
    * through the map-only frames() walk with the VP8 key frames decoded
    * by [[graft.operators.Vp8]]. Luma sums in the oracle come from
    * libwebp's OWN decode of the identical payloads (same dev-time
    * goldens as media_webp_lossy). */
  val webmKeyframes: QueryDef = QueryDef(
    "webm_keyframes",
    (s, dir) => {
      import s.implicits._
      val names = graft.queries.Vp8Fixtures.all.keys.toSeq.sorted
      // mode: 0 plain two-block file, 1 VP9-labelled twin, 2/3/4 the
      // same two frames in ONE Xiph / fixed-size / EBML-laced block
      val rows = names.zipWithIndex.map { case (n, i) => (i.toLong + 1, n, 0) } ++
        Seq((names.size.toLong + 1, names.head, 1),
          (names.size.toLong + 2, names.head, 2),
          (names.size.toLong + 3, names.head, 3),
          (names.size.toLong + 4, names.head, 4))
      s.createDataset(rows).repartition(rows.size)
        .map { case (id, name, mode) =>
          val webp = java.util.Base64.getDecoder.decode(graft.queries.Vp8Fixtures.all(name))
          val sz = (webp(16) & 0xff) | ((webp(17) & 0xff) << 8) |
            ((webp(18) & 0xff) << 16) | ((webp(19) & 0xff) << 24)
          val vp8 = java.util.Arrays.copyOfRange(webp, 20, 20 + sz)
          val f = graft.operators.Vp8.decode(vp8)
          val bytes = mode match {
            case 0 | 1 => graft.sources.Webm.encodeWebm(
              Seq(vp8, vp8), f.w, f.h, frameMs = 40,
              codec = if (mode == 1) "V_VP9" else "V_VP8")
            case m => graft.sources.Webm.encodeWebmLaced(Seq(vp8, vp8), f.w, f.h, m - 1)
          }
          graft.sources.Webm.WebmFile(id, bytes)
        }
        .transform(ds => graft.sources.Webm.frames(ds, keepCorrupt = true))
        .toDF()
        .select(col("id").as("file_id"), col("track"), col("frame"), col("ts_ms"),
          col("width"), col("height"), col("luma_sum"),
          when(col("error").isNull, "ok").otherwise("refused").as("status"))
        .orderBy("file_id", "frame")
    },
    Some("""
      WITH fx AS (
        SELECT * FROM (VALUES
          (1, 128, 96, 1224960), (2, 16, 16, 28921), (3, 161, 113, 2318729), (4, 5, 7, 3736)
        ) AS t(file_id, w, h, ysum)
      )
      SELECT file_id, CAST(1 AS BIGINT) AS track, CAST(frame AS INTEGER) AS frame,
        CAST(frame * 40 AS BIGINT) AS ts_ms, CAST(w AS INTEGER) AS width,
        CAST(h AS INTEGER) AS height, CAST(ysum AS BIGINT) AS luma_sum, 'ok' AS status
      FROM fx CROSS JOIN (SELECT unnest([0, 1]) AS frame)
      UNION ALL
      SELECT 5, CAST(1 AS BIGINT), CAST(-1 AS INTEGER), CAST(-1 AS BIGINT),
        CAST(128 AS INTEGER), CAST(96 AS INTEGER), CAST(0 AS BIGINT), 'refused'
      UNION ALL
      -- files 6/7/8: the first fixture's two frames in one Xiph /
      -- fixed-size / EBML laced block (shared block timestamp 0)
      SELECT file_id, CAST(1 AS BIGINT), CAST(frame AS INTEGER),
        CAST(0 AS BIGINT), CAST(128 AS INTEGER), CAST(96 AS INTEGER),
        CAST(1224960 AS BIGINT), 'ok'
      FROM (SELECT unnest([6, 7, 8]) AS file_id) CROSS JOIN (SELECT unnest([0, 1]) AS frame)
      ORDER BY file_id, frame
    """.trim)
  )

  /** The JPEG form of the PDQ pipeline, real end to end: per-doc
    * BLOCK-CONSTANT grayscale tiles encoded as real baseline JPEG
    * (from-scratch FDCT, canonical Huffman, byte stuffing — [[Jpeg]]),
    * decoded back by the pure-JVM [[Jpeg.decode]] (marker walk, DQT/
    * DHT, entropy decode, IDCT) and hashed by the fixed-point kernel.
    * JPEG is lossy in general, but DC-only blocks round-trip
    * BIT-EXACTLY (JpegSpec pins it), so the oracle replays the tile
    * synthesis directly — a single flipped bit anywhere in the codec
    * chain moves a hash and fails the gate. Gray pixels keep SQL luma
    * trivial (luma(v,v,v) = v). */
  val mediaJpegPdq: QueryDef = QueryDef(
    "media_jpeg_pdq",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .filter(col("doc_id") < 96)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val id = r.getLong(0)
          val g = rollingAcc(r.getString(1)) % 7
          val w = 72 + (id % 3).toInt * 28
          val h = 64 + (id % 5).toInt * 16
          val gray = Array.tabulate(w * h) { p =>
            val tx = (p % w) / 8; val ty = (p / w) / 8
            ((g * 37 + tx * 13 + ty * 29) % 256).toInt
          }
          Media.MediaItem(id, "image", Jpeg.encodeGray(w, h, gray))
        }
      Media.pdqHashes(items, Jpeg.decode)
        .toDF("id", "pdq_hex", "quality")
        .orderBy("id")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS id,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) % 7 AS g
        FROM documents WHERE doc_id < 96),
      dims AS (SELECT id, g, 72 + (id % 3) * 28 AS w, 64 + (id % 5) * 16 AS h FROM src),
      axis AS (SELECT unnest(generate_series(0, 127)) AS v),
      pix AS (
        SELECT d.id, x.v AS x, y.v AS y, d.w, d.h,
          (d.g * 37 + (x.v // 8) * 13 + (y.v // 8) * 29) % 256 AS l
        FROM dims d JOIN axis x ON x.v < d.w JOIN axis y ON y.v < d.h),
      $pdqChainCtes
      SELECT h.id, h.pdq_hex, g.quality FROM hexs h JOIN grad g ON g.id = h.id ORDER BY h.id
    """.trim)
  )

  /** The PROGRESSIVE-JPEG form of [[mediaJpegPdq]] — the dominant web
    * JPEG flavor, five SOF2 scans (spectral selection + successive
    * approximation, EOBRUN run coding) decoded by the coefficient-
    * accumulating path in [[Jpeg.decode]]. The scan split is lossless
    * (JpegSpec pins progressive ≡ baseline pixels), so the oracle is
    * [[mediaJpegPdq]]'s verbatim: the gate proves the progressive
    * chain changes NOTHING. */
  val mediaJpegProgPdq: QueryDef = QueryDef(
    "media_jpeg_prog_pdq",
    (s, dir) => {
      import s.implicits._
      val items = tbl(s, dir, "documents")
        .filter(col("doc_id") < 96)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val id = r.getLong(0)
          val g = rollingAcc(r.getString(1)) % 7
          val w = 72 + (id % 3).toInt * 28
          val h = 64 + (id % 5).toInt * 16
          val gray = Array.tabulate(w * h) { p =>
            val tx = (p % w) / 8; val ty = (p / w) / 8
            ((g * 37 + tx * 13 + ty * 29) % 256).toInt
          }
          Media.MediaItem(id, "image", Jpeg.encodeGrayProgressive(w, h, gray))
        }
      Media.pdqHashes(items, Jpeg.decode)
        .toDF("id", "pdq_hex", "quality")
        .orderBy("id")
    },
    mediaJpegPdq.oracle
  )

  /** EXIF-orientation ingest: the SAME block-constant scenes as
    * `media_jpeg_pdq`, but STORED rotated/mirrored (orientation
    * o = 1 + id%8, pixels pre-transformed by o's inverse) with the
    * orientation in a spliced APP1 Exif segment.
    * [[Jpeg.decodeOriented]] must render every grip upright, so the
    * gate SHARES `media_jpeg_pdq`'s oracle verbatim — rotation undo
    * has to be pixel-exact through the whole codec chain (dims stay
    * 8-aligned under the dihedral transforms, so block-constant
    * exactness survives). */
  val mediaExifPdq: QueryDef = QueryDef(
    "media_exif_pdq",
    (s, dir) => {
      import s.implicits._
      val inv = Array(0, 1, 2, 3, 4, 5, 8, 7, 6)
      val items = tbl(s, dir, "documents")
        .filter(col("doc_id") < 96)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val id = r.getLong(0)
          val g = rollingAcc(r.getString(1)) % 7
          val w = 72 + (id % 3).toInt * 28
          val h = 64 + (id % 5).toInt * 16
          val gray = Array.tabulate(w * h) { p =>
            val tx = (p % w) / 8; val ty = (p / w) / 8
            ((g * 37 + tx * 13 + ty * 29) % 256).toInt
          }
          val o = 1 + (id % 8).toInt
          val (sw, sh, sg) = Jpeg.applyOrientation(w, h, gray, inv(o))
          Media.MediaItem(id, "image",
            Jpeg.withExifOrientation(Jpeg.encodeGray(sw, sh, sg), o))
        }
      Media.pdqHashes(items, Jpeg.decodeOriented)
        .toDF("id", "pdq_hex", "quality")
        .orderBy("id")
    },
    mediaJpegPdq.oracle
  )

  /** C4 line-level cleaning over documents wrapped in PLANTED lines
    * (boilerplate markers, a no-terminal-punct remainder, a sub-floor
    * line, two conditional keepers) — so kept/dropped and the per-doc
    * survival floor all vary. minLinesPerDoc = 2: a doc survives iff
    * the always-kept intro line plus ≥1 conditional keeper pass. */
  val c4CleanQ: QueryDef = QueryDef(
    "c4_clean",
    (s, dir) => {
      val planted = tbl(s, dir, "documents").select(col("doc_id").as("id"),
        concat_ws("\n",
          concat(substring(col("text"), 1, 40), lit(" end of intro.")),
          lit("please enable javascript to view this."),
          lit("we use cookies see our cookie policy."),
          substring(col("text"), 41, 160),
          lit("too short."),
          when(col("doc_id") % 2 === 0,
            lit("this planted line always survives the filter."))
            .otherwise(lit("this line has no terminal punctuation at all")),
          when(col("doc_id") % 3 === 0,
            lit("a second keeper line appears on thirds here."))
            .otherwise(lit("{ a code block line that always drops }"))).as("text"))
      TextAnalysis.c4Clean(planted, "id", "text", minWordsPerLine = 5, minLinesPerDoc = 2)
        .select(col("id"), md5(col("text_clean")).as("clean_md5"),
          col("n_lines"), col("n_lines_kept"))
        .orderBy("id")
    },
    Some {
      val plantedSql = """SELECT doc_id AS id,
        concat_ws(chr(10),
          substr(text, 1, 40) || ' end of intro.',
          'please enable javascript to view this.',
          'we use cookies see our cookie policy.',
          substr(text, 41, 160),
          'too short.',
          CASE WHEN doc_id % 2 = 0 THEN 'this planted line always survives the filter.'
               ELSE 'this line has no terminal punctuation at all' END,
          CASE WHEN doc_id % 3 = 0 THEN 'a second keeper line appears on thirds here.'
               ELSE '{ a code block line that always drops }' END) AS text
        FROM documents"""
      s"""SELECT id, md5(text_clean) AS clean_md5, n_lines, n_lines_kept
        FROM (${TextAnalysis.c4CleanSql(plantedSql, minWordsPerLine = 5, minLinesPerDoc = 2)})
        ORDER BY id""".trim
    }
  )

  /** Corpus-wide exact line dedup over PLANTED multi-line docs: a
    * globally shared boilerplate line (repeated within each doc too), a
    * conditional shared line on 4th docs, and per-doc text slices — so
    * removals span within-doc and cross-doc duplicates and the
    * first-occurrence (min id, pos) rule is load-bearing. */
  val lineDedupQ: QueryDef = QueryDef(
    "line_dedup",
    (s, dir) => {
      val planted = tbl(s, dir, "documents").select(col("doc_id").as("id"),
        concat_ws("\n",
          substring(col("text"), 1, 50),
          lit("subscribe to our newsletter today"),
          substring(col("text"), 51, 120),
          when(col("doc_id") % 4 === 0, lit("all rights reserved worldwide"))
            .otherwise(substring(col("text"), 11, 30)),
          lit("subscribe to our newsletter today")).as("text"))
      graft.operators.Dedup.lineDedup(planted, "id", "text")
        .select(col("id"), md5(col("text_clean")).as("clean_md5"),
          col("n_lines"), col("n_dupes_removed"))
        .orderBy("id")
    },
    Some {
      val plantedSql = """SELECT doc_id AS id,
        concat_ws(chr(10),
          substr(text, 1, 50),
          'subscribe to our newsletter today',
          substr(text, 51, 120),
          CASE WHEN doc_id % 4 = 0 THEN 'all rights reserved worldwide'
               ELSE substr(text, 11, 30) END,
          'subscribe to our newsletter today') AS text
        FROM documents"""
      s"""SELECT id, md5(text_clean) AS clean_md5, n_lines, n_dupes_removed
        FROM (${graft.operators.Dedup.lineDedupSql(plantedSql)})
        ORDER BY id""".trim
    }
  )

  /** SKEW STRESS for the min-struct winner shape: one viral line
    * planted in EVERY doc (twice — intra-doc repeat) plus a second hot
    * line in ~20% of docs, so two md5 keys carry ~2.2N and ~0.4N
    * occurrences. The combinable `min(struct)` winner collapses the hot
    * keys map-side; the skew-prone `row_number` formulation would sort
    * every occurrence of the hot hash in ONE task (PlanShapeSpec pins
    * that no Window/per-key sort appears in this gate's plan). */
  val lineDedupSkewQ: QueryDef = QueryDef(
    "line_dedup_skew",
    (s, dir) => {
      val viral = lit("this exact viral boilerplate line is everywhere")
      val hot = lit("every fifth doc also shares this hot line")
      val planted = tbl(s, dir, "documents").select(col("doc_id").as("id"),
        concat_ws("\n",
          viral,
          substring(col("text"), 1, 45),
          when(col("doc_id") % 5 === 0, hot).otherwise(substring(col("text"), 46, 60)),
          viral,
          when(col("doc_id") % 5 === 0, hot).otherwise(substring(col("text"), 16, 25))).as("text"))
      graft.operators.Dedup.lineDedup(planted, "id", "text")
        .select(col("id"), md5(col("text_clean")).as("clean_md5"),
          col("n_lines"), col("n_dupes_removed"))
        .orderBy("id")
    },
    Some {
      val plantedSql = """SELECT doc_id AS id,
        concat_ws(chr(10),
          'this exact viral boilerplate line is everywhere',
          substr(text, 1, 45),
          CASE WHEN doc_id % 5 = 0 THEN 'every fifth doc also shares this hot line'
               ELSE substr(text, 46, 60) END,
          'this exact viral boilerplate line is everywhere',
          CASE WHEN doc_id % 5 = 0 THEN 'every fifth doc also shares this hot line'
               ELSE substr(text, 16, 25) END) AS text
        FROM documents"""
      s"""SELECT id, md5(text_clean) AS clean_md5, n_lines, n_dupes_removed
        FROM (${graft.operators.Dedup.lineDedupSql(plantedSql)})
        ORDER BY id""".trim
    }
  )

  /** On-corpus BPE merge learning: 8 merges over the raw documents
    * table — the fit side of the subword tier (the learned pieces feed
    * [[graft.operators.TextAnalysis.bpeTokenCounts]]). */
  val bpeMerges: QueryDef = QueryDef(
    "bpe_merges",
    (s, dir) => graft.operators.BpeLearn.fitBpeMerges(
      tbl(s, dir, "documents").select(col("text")), "text", 8)
      .orderBy("merge_rank"),
    Some(s"""
      SELECT merge_rank, left_sym, right_sym, pair_count
      FROM (${graft.operators.BpeLearn.fitBpeMergesSql("SELECT text FROM documents", 8)})
      ORDER BY merge_rank
    """.trim)
  )

  /** True-BPE segmentation of the corpus vocabulary under the merges
    * learned by `bpe_merges` — the apply side of the tokenizer fit. */
  val bpeSegment: QueryDef = QueryDef(
    "bpe_segment",
    (s, dir) => graft.operators.BpeLearn.segmentVocab(
      tbl(s, dir, "documents").select(col("text")), "text", 8)
      .orderBy("word"),
    Some(s"""
      SELECT word, pieces, n_pieces
      FROM (${graft.operators.BpeLearn.segmentVocabSql("SELECT text FROM documents", 8)})
      ORDER BY word
    """.trim)
  )

  /** Quality-weighted sampling: score every doc with the hashed linear
    * scorer, then keep each doc with probability = its own score. */
  val qualitySample: QueryDef = QueryDef(
    "quality_sample",
    (s, dir) => {
      val scored = TextAnalysis.hashedQualityScore(
        tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")), "id", "text")
      Splits.weightedSample(scored, "id", "quality_score").orderBy("id")
    },
    Some(s"""
      SELECT id, quality_score FROM (
        SELECT doc_id AS id, ${TextAnalysis.hashedQualityScoreSql("text")} AS quality_score
        FROM documents)
      WHERE ${Splits.weightedSampleSql("id", "quality_score")}
      ORDER BY id
    """.trim)
  )

  /** Self-fit char-trigram LM score over the raw documents table. */
  val lmScoreQ: QueryDef = QueryDef(
    "lm_score",
    (s, dir) => TextAnalysis.lmScore(
      tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")), "id", "text")
      .orderBy("id"),
    Some(s"""
      SELECT id, n_trigrams, bits_per_trigram
      FROM (${TextAnalysis.lmScoreSql("SELECT doc_id AS id, text FROM documents")})
      ORDER BY id
    """.trim)
  )

  /** Gopher composite filter at default thresholds over raw documents —
    * the 30–100-word synthetic docs split keep/drop across several
    * rules (word floor, top-word fraction, ttr), so reason codes vary. */
  val gopherFilterQ: QueryDef = QueryDef(
    "gopher_filter",
    (s, dir) => TextAnalysis.gopherFilter(
      tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")), "id", "text")
      .orderBy("id"),
    Some(s"""
      SELECT id, n_words, keep, reason
      FROM (${TextAnalysis.gopherFilterSql("SELECT doc_id AS id, text FROM documents")})
      ORDER BY id
    """.trim)
  )

  /** Bootstrapped NB quality classifier: seed labels come from the
    * hand-tuned hashed linear scorer (score ≥ 0.5 → positive — the
    * rule-to-model distillation step real curation pipelines use to
    * turn heuristics into a learned classifier), the hashed log-ratio
    * model is fit on the two label strata, and EVERY doc is rescored
    * under the model. At gate scale the seed pass recomputes per fit
    * branch; production materializes the labeled seed once. */
  val nbQuality: QueryDef = QueryDef(
    "nb_quality",
    (s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      // the seed-label pass feeds four consumers (pos/neg counts + both
      // prior counts) — materialize it once
      val labeled = Materialize(docs.join(
        TextAnalysis.hashedQualityScore(docs, "id", "text"), Seq("id")))
      val model = Classify.nbFit(
        labeled.filter(col("quality_score") >= 0.5).select("text"),
        labeled.filter(col("quality_score") < 0.5).select("text"), "text", 4096)
      Classify.nbScore(docs, "id", "text", model, 4096).orderBy("id")
    },
    Some {
      val seed = s"SELECT doc_id AS id, text, (${TextAnalysis.hashedQualityScoreSql("text")} >= 0.5) AS lab FROM documents"
      s"""SELECT id, n_tokens, log_odds_bits, keep FROM (
        ${Classify.nbScoreSql(
          s"SELECT id, text FROM ($seed)",
          s"SELECT text FROM ($seed) WHERE lab",
          s"SELECT text FROM ($seed) WHERE NOT lab", 4096)})
        ORDER BY id""".trim
    }
  )

  /** In-engine TRAINED logistic quality classifier: integer features →
    * 3 full-batch hard-sigmoid GD iterations, each ONE map-combinable
    * aggregate (gradients in DECIMAL(38,0)) with a driver-side 5-long
    * weight update — then map-only rescore of every doc. The label
    * (length decile ≥ 5) is derivable from x1, so the fit must learn a
    * separating weight; the oracle replays the ENTIRE training
    * trajectory as three unrolled CTE stages, so a wrong gradient,
    * clamp, or truncation direction in any iteration diverges. */
  val logitQuality: QueryDef = QueryDef(
    "logit_quality",
    (s, dir) => {
      val feats = Classify.logitFeatures(
        tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text")),
        "id", "text")
        .withColumn("y", (col("x1") >= 5).cast("long"))
      val w = Classify.logisticFit(feats, "y", iters = 3, lrDiv = 64L)
      Classify.logisticScore(feats, w.toSeq).orderBy("id")
    },
    Some(s"""
      WITH f0 AS (SELECT doc_id AS id, ${Classify.logitFeaturesSql("text")} FROM documents),
      fy AS (SELECT *, CAST(CASE WHEN x1 >= 5 THEN 1 ELSE 0 END AS BIGINT) AS y FROM f0),
      ${Classify.logisticSql("SELECT * FROM fy", iters = 3, lrDiv = 64L)}
      SELECT id, z, score_micro, pred FROM lgsc ORDER BY id
    """.trim)
  )

  /** DSIR importance resampling: target distribution = every 7th doc,
    * select 150 of the corpus by Gumbel top-k over the hashed
    * unigram+bigram importance weights. */
  val dsirSelectQ: QueryDef = QueryDef(
    "dsir_select",
    (s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      Classify.dsirSelect(docs, "id", "text",
        docs.filter(col("id") % 7 === 0).select("text"), "text", k = 150)
        .orderBy("id")
    },
    Some(s"""SELECT id, log_weight_bits FROM (
      ${Classify.dsirSelectSql(
        "SELECT doc_id AS id, text FROM documents",
        "SELECT text FROM documents WHERE doc_id % 7 = 0", 150)})
      ORDER BY id""".trim)
  )

  /** Unicode NFC normalization over planted denormalized text (NFD
    * combining sequences + Hangul jamo appended to every doc) — the
    * canonicalization stage that must run before any hash-based dedup.
    * Both engines normalize per UAX #15 (JDK Normalizer ↔ utf8proc),
    * so the md5 of the normalized text matches bit-for-bit. */
  val nfcTextQ: QueryDef = QueryDef(
    "nfc_text",
    (s, dir) => {
      val planted = tbl(s, dir, "documents").select(col("doc_id").as("id"),
        concat(coalesce(col("text"), lit("")),
          lit(" Cafe\u0301 \u1100\u1161 caf\u00e9")).as("t"))
      planted.select(col("id"),
        md5(graft.plans.NfcNormalize(col("t"))).as("norm_md5"),
        (graft.plans.NfcNormalize(col("t")) =!= col("t")).as("changed"),
        (length(col("t")) - length(graft.plans.NfcNormalize(col("t")))).cast("long")
          .as("len_delta"))
        .orderBy("id")
    },
    Some("""
      SELECT id, md5(nfc_normalize(t)) AS norm_md5,
        nfc_normalize(t) <> t AS changed,
        length(t) - length(nfc_normalize(t)) AS len_delta
      FROM (SELECT doc_id AS id,
              coalesce(text, '') || ' Cafe' || chr(769) || ' ' || chr(4352) || chr(4449) || ' caf' || chr(233) AS t
            FROM documents)
      ORDER BY id""".trim)
  )

  /** Within-doc line dedup (map-only prefix scan) over docs planted
    * with intra-document repeats: a literal line twice plus the leading
    * text slice re-appearing at the end. Distinct from `line_dedup`'s
    * corpus-wide rule: the planted boilerplate line SURVIVES once in
    * every doc here. */
  val intraLineDedupQ: QueryDef = QueryDef(
    "intra_line_dedup",
    (s, dir) => {
      val planted = tbl(s, dir, "documents").select(col("doc_id").as("id"),
        concat_ws("\n",
          substring(col("text"), 1, 40),
          lit("repeat me twice ok"),
          substring(col("text"), 41, 80),
          lit("repeat me twice ok"),
          substring(col("text"), 1, 40)).as("text"))
      graft.operators.Dedup.intraDocLineDedup(planted, "id", "text")
        .select(col("id"), md5(col("text_clean")).as("clean_md5"),
          col("n_lines"), col("n_dupes_removed"))
        .orderBy("id")
    },
    Some {
      val plantedSql = """SELECT doc_id AS id,
        concat_ws(chr(10),
          substr(text, 1, 40),
          'repeat me twice ok',
          substr(text, 41, 80),
          'repeat me twice ok',
          substr(text, 1, 40)) AS text
        FROM documents"""
      s"""SELECT id, md5(text_clean) AS clean_md5, n_lines, n_dupes_removed
        FROM (${graft.operators.Dedup.intraDocLineDedupSql(plantedSql)})
        ORDER BY id""".trim
    }
  )

  /** HLL distinct-token estimate per source BESIDE the exact count, so
    * the gate itself exhibits the error envelope (±1.04/√1024 ≈ 3.3 %
    * at one σ). The register relation and harmonic sum replay in
    * DuckDB bit-for-bit — see [[Sketches]] parity notes. At 100 TB the
    * point is the left side: O(2^p) mergeable state per group vs the
    * exact side's full distinct-key shuffle. */
  val hllDistinctQ: QueryDef = QueryDef(
    "hll_distinct",
    (s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.words(col("text"))).as("w"))
      Sketches.hllEstimate(Sketches.hllRegisters(toks, "source", "w", p = 10), "source", p = 10)
        .join(toks.groupBy("source").agg(count_distinct(col("w")).as("exact_distinct")),
          Seq("source"))
        .orderBy("source")
    },
    Some(Sketches.hllDistinctSql(
      s"SELECT source, unnest(${TextFunctions.wordsSql("text")}) AS w FROM documents",
      "source", "w", p = 10))
  )

  /** The NATIVE-aggregate sketch path beside the relational one:
    * [[graft.plans.HllSketchAgg]] builds the whole register file as a
    * single TypedImperativeAggregate buffer (one array row per group
    * crosses the exchange instead of up to 2^p register rows), and
    * [[Sketches.hllEstimateFromSketch]] explodes it back through the
    * ONE estimate implementation. Register files are bit-identical to
    * [[Sketches.hllRegisters]] (spec-pinned), so this gate reuses
    * `hll_distinct`'s oracle verbatim — any drift between the native
    * and relational paths flips rows here. */
  val hllAggQ: QueryDef = QueryDef(
    "hll_agg",
    (s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.words(col("text"))).as("w"))
      val sk = toks.groupBy("source")
        .agg(graft.plans.HllSketchAgg(col("w"), 10).as("sketch"))
      Sketches.hllEstimateFromSketch(sk, "source", "sketch", p = 10)
        .join(toks.groupBy("source").agg(count_distinct(col("w")).as("exact_distinct")),
          Seq("source"))
        .orderBy("source")
    },
    Some(Sketches.hllDistinctSql(
      s"SELECT source, unnest(${TextFunctions.wordsSql("text")}) AS w FROM documents",
      "source", "w", p = 10))
  )

  /** Corpus-overlap at sketch cost: inclusion-exclusion HLL
    * intersection of even- vs odd-doc vocabularies per source, beside
    * the exact intersection — how much two crawls share without
    * shuffling either key space. */
  val hllIntersectQ: QueryDef = QueryDef(
    "hll_intersect",
    (s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), explode(TextFunctions.words(col("text"))).as("w"))
      // block-of-twenty split: source = doc_id mod 20, so any split
      // with a period sharing a factor with 20 leaves the slices
      // source-disjoint; alternating full blocks covers every source
      // on both sides
      val a = toks.filter(expr("doc_id div 20 % 2") === 0)
      val b = toks.filter(expr("doc_id div 20 % 2") === 1)
      val est = Sketches.hllIntersectEstimate(
        Sketches.hllRegisters(a, "source", "w", p = 10),
        Sketches.hllRegisters(b, "source", "w", p = 10), "source", p = 10)
      val exact = a.select("source", "w").distinct()
        .intersect(b.select("source", "w").distinct())
        .groupBy("source").agg(count(lit(1)).as("exact_intersect"))
      est.join(exact, Seq("source"), "left")
        .withColumn("exact_intersect", coalesce(col("exact_intersect"), lit(0L)))
        .orderBy("source")
    },
    Some("SELECT * FROM (" + Sketches.hllIntersectSql(
      s"SELECT source, unnest(${TextFunctions.wordsSql("text")}) AS k FROM documents WHERE (doc_id // 20) % 2 = 0",
      s"SELECT source, unnest(${TextFunctions.wordsSql("text")}) AS k FROM documents WHERE (doc_id // 20) % 2 = 1",
      "source", p = 10) + ") ORDER BY source")
  )

  /** The PERSISTED sketch lifecycle: the corpus split into two shards
    * (doc_id parity), each shard's HLL registers written with the
    * commit-marker manifest, read back, and MERGED (elementwise max) —
    * the daily-shard → union → estimate flow a 100 TB pipeline runs so
    * yesterday's corpus is never re-scanned. HLL merge is exact
    * (max of shard registers ≡ registers of the union), so the oracle
    * is `hll_distinct`'s single-pass SQL verbatim. */
  val hllMergedIdx: QueryDef = QueryDef(
    "hll_merged_idx",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val path = gateScratchDir("graft_sketch_gate")
      val params = Map("p" -> "10")
      for (m <- 0 to 1) {
        val toks = docs.filter(col("doc_id") % 2 === m)
          .select(col("source"), explode(TextFunctions.words(col("text"))).as("w"))
        Sketches.writeSketch(
          Sketches.SketchShard(Sketches.hllRegisters(toks, "source", "w", p = 10), "hll", params),
          s"$path/shard$m", mode = org.apache.spark.sql.SaveMode.Overwrite)
      }
      val merged = Sketches.mergeSketches(
        Seq(Sketches.readSketch(s, s"$path/shard0"), Sketches.readSketch(s, s"$path/shard1")))
      val toksAll = docs.select(col("source"), explode(TextFunctions.words(col("text"))).as("w"))
      Sketches.hllEstimate(merged.data, "source", p = 10)
        .join(toksAll.groupBy("source").agg(count_distinct(col("w")).as("exact_distinct")),
          Seq("source"))
        .orderBy("source")
    },
    hllDistinctQ.oracle
  )

  /** Count-min probe terms: bm25's literal set plus one absent term —
    * its exact count is 0 while its estimate shows the collision
    * upper-bound property on a live table. */
  private val cmsTerms = Seq("spark", "window", "vector", "stream", "graft_absent_term")

  /** Count-min frequency estimates for the probe set beside the exact
    * counts. d×w integer counters (map-side combinable, shard tables
    * sum — spec-pinned) answer point frequencies over an unbounded
    * vocabulary without keying by it. */
  val cmsFreqQ: QueryDef = QueryDef(
    "cms_freq",
    (s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(explode(TextFunctions.words(col("text"))).as("w"))
      val est = Sketches.cmsEstimate(Sketches.cmsCounts(toks, "w", d = 4, w = 1024),
        cmsTerms, d = 4, w = 1024)
      val exact = toks.filter(col("w").isin(cmsTerms: _*))
        .groupBy(col("w").as("term")).agg(count(lit(1)).as("n"))
      est.join(exact, Seq("term"), "left")
        .select(col("term"), col("est"), coalesce(col("n"), lit(0L)).as("exact"))
        .orderBy("term")
    },
    Some(Sketches.cmsFreqSql(
      s"SELECT unnest(${TextFunctions.wordsSql("text")}) AS w FROM documents",
      "w", cmsTerms, d = 4, w = 1024))
  )

  /** The maintenance pass as a lifecycle gate: documents deliberately
    * fragmented into 64 small files, [[graft.operators.Layout.compact]]
    * rewrites them into a handful sized from the FILE LISTING (no data
    * scan), and the gate reads the compacted copy back — content must
    * round-trip exactly (the oracle reads the original table). File
    * counts are pinned in LayoutSpec; this pins content through the
    * driver. */
  val compactRoundtrip: QueryDef = QueryDef(
    "compact_roundtrip",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft-compact").toString
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      d.repartition(64).write.mode("overwrite").parquet(s"$base/frag")
      graft.operators.Layout.compact(s, s"$base/frag", targetFileBytes = 512 * 1024,
        s"$base/compact", mode = org.apache.spark.sql.SaveMode.Overwrite)
      s.read.parquet(s"$base/compact")
        .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars
      FROM documents ORDER BY doc_id
    """.trim)
  )

  /** Schema evolution on read: two shards written with DIFFERENT
    * schemas (an old ingest without source/n_chars beside a new one)
    * must union by name under `mergeSchema`, missing columns
    * null-padded — the long-lived-corpus reality where this year's
    * shards carry columns last year's don't. The oracle replays the
    * null-padded union from the source table directly. */
  val schemaEvolution: QueryDef = QueryDef(
    "schema_evolution",
    (s, dir) => {
      val base = gateScratchDir("schema_evo")
      val d = tbl(s, dir, "documents")
      d.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$base/old")
      d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$base/new")
      s.read.option("mergeSchema", "true").parquet(s"$base/old", s"$base/new")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), coalesce(sum("n_chars"), lit(0L)).as("sum_chars"))
        .orderBy("lang", "source")
    },
    Some("""
      WITH se AS (
        SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS n_chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 2 = 1)
      SELECT lang, source, count(*) AS n, CAST(COALESCE(sum(n_chars), 0) AS BIGINT) AS sum_chars
      FROM se GROUP BY 1, 2 ORDER BY 1, 2
    """.trim)
  )

  /** Per-language length quartiles over documents — the grouped
    * histogram-CDF ntile ([[graft.operators.Sketches.exactNtileBy]]):
    * no language's rows ever sort in one task, yet every per-row tile
    * matches the oracle's direct partitioned `ntile()`. */
  val exactNtileBy: QueryDef = QueryDef(
    "exact_ntile_by",
    (s, dir) => graft.operators.Sketches.exactNtileBy(
        tbl(s, dir, "documents").select(col("lang"), col("doc_id"), col("n_chars")),
        "lang", "doc_id", "n_chars", k = 4, step = 32L, nb = 64)
      .orderBy("lang", "id"),
    Some(s"""
      ${graft.operators.Sketches.exactNtileBySql(
        "SELECT lang, doc_id, n_chars FROM documents", "lang", "doc_id", "n_chars", 4)}
      ORDER BY lang, id
    """.stripMargin.trim)
  )

  /** Bad-record quarantine on JSONL ingest: every 13th line of the
    * written corpus is corrupted, and the PERMISSIVE +
    * `_corrupt_record` read must keep BOTH sides — parsed rows with
    * their columns, corrupt rows with the raw line captured (pinned by
    * summing the quarantined lines' exact lengths). The oracle replays
    * the corruption rule from the source table. */
  val jsonlQuarantine: QueryDef = QueryDef(
    "jsonl_quarantine",
    (s, dir) => {
      val base = gateScratchDir("jsonl_q")
      val d = tbl(s, dir, "documents")
      val line = when(col("doc_id") % 13 === 0,
          concat(lit("{corrupt line "), col("doc_id").cast("string")))
        .otherwise(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
      d.select(line.as("value")).write.mode("overwrite").text(base)
      graft.sources.Formats.readJsonlQuarantine(s, base,
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, lang STRING, n_chars BIGINT"))
        .groupBy(coalesce(col("lang"), lit("__quarantined")).as("lang"))
        .agg(count(lit(1)).as("n"), count(col("quarantined")).as("n_bad"),
          coalesce(sum("n_chars"), lit(0L)).as("sum_chars"),
          coalesce(sum(length(col("quarantined"))), lit(0L)).as("sum_bad_len"))
        .orderBy("lang")
    },
    Some("""
      SELECT CASE WHEN doc_id % 13 = 0 THEN '__quarantined' ELSE lang END AS lang,
        count(*) AS n,
        count(CASE WHEN doc_id % 13 = 0 THEN 1 END) AS n_bad,
        CAST(COALESCE(sum(CASE WHEN doc_id % 13 <> 0 THEN n_chars END), 0) AS BIGINT) AS sum_chars,
        CAST(COALESCE(sum(CASE WHEN doc_id % 13 = 0
          THEN 14 + length(CAST(doc_id AS VARCHAR)) END), 0) AS BIGINT) AS sum_bad_len
      FROM documents GROUP BY 1 ORDER BY 1
    """.trim)
  )

  /** Robust length-QC: documents whose length deviates more than
    * 3×MAD from their source's median — the outlier screen that
    * catches truncated scrapes and concatenation accidents without
    * the mean/σ's sensitivity to the very outliers it hunts. This is
    * the EXACT small-relation form (per-group `percentile` sorts its
    * group — fine for dimension-sized slices); the corpus-scale path
    * is the histogram calibration (`quality_calibrated`), which reads
    * ≤ nb sketch rows per group instead. Both engines interpolate the
    * median identically (quantile_cont semantics) from identical
    * inputs, so the flag comparison replays exactly. */
  val lengthOutliers: QueryDef = QueryDef(
    "length_outliers",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("len"))
      val med = d.groupBy("source").agg(expr("percentile(len, 0.5D)").as("med"))
      val dm = d.join(broadcast(med), Seq("source"))
        .withColumn("adev", abs(col("len") - col("med")))
      val mad = dm.groupBy("source").agg(expr("percentile(adev, 0.5D)").as("mad"))
      dm.join(broadcast(mad), Seq("source"))
        .filter(col("adev") > col("mad") * 3)
        .select(col("doc_id"), col("len"), col("med"), col("mad"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len FROM documents),
      med AS (SELECT source, median(len) AS med FROM d GROUP BY source),
      dm AS (SELECT d.*, med.med, ABS(len - med.med) AS adev FROM d JOIN med USING (source)),
      mad AS (SELECT source, median(adev) AS mad FROM dm GROUP BY source)
      SELECT doc_id, len, dm.med, mad.mad AS mad
      FROM dm JOIN mad USING (source)
      WHERE adev > mad.mad * 3
      ORDER BY doc_id
    """.stripMargin.trim)
  )

  /** Distribution-drift monitor: PSI between the even- and odd-doc
    * length histograms over the full 20-bucket grid —
    * [[Sketches.psiDrift]] with the floor-micro-unit transcendental
    * discipline, so the per-group verdict is an order-free integer
    * sum. Sketch-sized state: comparing yesterday's corpus to today's
    * reads two histograms, never the corpora. */
  val qualityDrift: QueryDef = QueryDef(
    "quality_drift",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), lit("len").as("g"), length(col("text")).cast("long").as("v"))
      val a = Sketches.histCounts(d.filter(col("doc_id") % 2 === 0), "g", "v", step = 200, nb = 20)
      val b = Sketches.histCounts(d.filter(col("doc_id") % 2 === 1), "g", "v", step = 200, nb = 20)
      Sketches.psiDrift(a, b, "g", nb = 20).orderBy("g", "bucket")
    },
    Some("SELECT * FROM (" + Sketches.psiDriftSql(
      "SELECT 'len' AS g, CAST(length(text) AS BIGINT) AS v FROM documents WHERE doc_id % 2 = 0",
      "SELECT 'len' AS g, CAST(length(text) AS BIGINT) AS v FROM documents WHERE doc_id % 2 = 1",
      grp = "g", step = 200, nb = 20) + ") ORDER BY g, bucket")
  )

  /** Join-size estimation from sketches alone: the CMS inner product
    * sizes the clicks⋈purchases-on-user join (a genuine many-to-many)
    * next to the exact count — the shuffle-planning primitive: at
    * 100 TB the estimate reads two d·w-cell sketches, never a fact
    * table. CMS never underestimates, so est >= exact always. */
  val joinSizeEst: QueryDef = QueryDef(
    "join_size_est",
    (s, dir) => {
      val e = tbl(s, dir, "events")
      def side(t: String) = e.filter(col("event_type") === t)
        .select(col("user_id").cast("string").as("k"))
      val est = Sketches.cmsJoinSizeEstimate(
        Sketches.cmsCounts(side("click"), "k", d = 5, w = 256),
        Sketches.cmsCounts(side("purchase"), "k", d = 5, w = 256), d = 5)
      val exact = side("click").join(side("purchase"), Seq("k"))
        .agg(count(lit(1)).as("exact_join_size"))
      est.crossJoin(exact)
    },
    Some(Sketches.cmsJoinSizeSql(
      "SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE event_type = 'click'",
      "SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE event_type = 'purchase'",
      d = 5, w = 256))
  )

  /** Histogram-sketch percentiles of document length per lang BESIDE
    * the exact interpolated percentiles — the mergeable-state path for
    * `corpus_stats`-style numbers at 100 TB (counts add across shards;
    * no per-group sort of every value). Estimates land within one
    * 50-char bucket of exact. */
  val histQuantilesQ: QueryDef = QueryDef(
    "hist_quantiles",
    (s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("lang"), col("n_chars"))
      Sketches.histQuantiles(
          Sketches.histCounts(docs, "lang", "n_chars", step = 50L, nb = 100),
          "lang", step = 50L, nb = 100,
          qs = Seq(("p50_chars", 500000L), ("p95_chars", 950000L)))
        .join(docs.groupBy("lang").agg(
          round(expr("percentile(n_chars, 0.5)"), 9).as("p50_chars_exact"),
          round(expr("percentile(n_chars, 0.95)"), 9).as("p95_chars_exact")), Seq("lang"))
        .orderBy("lang")
    },
    Some(Sketches.histQuantilesSql("SELECT lang, n_chars FROM documents", "lang", "n_chars",
      step = 50L, nb = 100, qs = Seq(("p50_chars", 500000L), ("p95_chars", 950000L))))
  )

  /** EXACT heavy hitters over the corpus word stream — the two-phase
    * CMS-filter-then-verify plan ([[Sketches.heavyHitters]]): sketch
    * broadcast, per-occurrence map-side pruning, exact groupBy on the
    * survivors only. Output is sketch-parameter-independent (CMS never
    * underestimates), so the oracle replay pins both the sketch
    * arithmetic AND the no-false-negative guarantee: a dropped true
    * heavy hitter would change the row set. */
  val heavyHittersQ: QueryDef = QueryDef(
    "heavy_hitters",
    (s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(explode(TextFunctions.words(col("text"))).as("w"))
      Sketches.heavyHitters(toks, "w", d = 4, w = 1024, fracDenom = 200L)
        .orderBy("term")
    },
    Some(Sketches.heavyHittersSql(
      s"SELECT unnest(${TextFunctions.wordsSql("text")}) AS w FROM documents",
      "w", d = 4, w = 1024, fracDenom = 200L))
  )

  /** Per-source percentile calibration of the hashed quality score via
    * the mergeable histogram ([[Sketches.histCalibrate]]) — "top decile
    * within each source" without `percent_rank`'s per-group sort of
    * every document. The score is the integer word-average of the
    * hashed word weights shifted to [0, 2000] (numerator nonnegative,
    * so truncating and flooring division agree across engines);
    * wordless docs sit at the neutral 1000. */
  val qualityCalibratedQ: QueryDef = QueryDef(
    "quality_calibrated",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      val wWeight = (TextFunctions.portableHash60(concat(lit("w8:"), col("word"))) % 2001L) - lit(1000L)
      val sums = d.select(col("doc_id").as("id"), explode(TextFunctions.words(col("text"))).as("word"))
        .select(col("id"), wWeight.as("w"))
        .groupBy("id").agg(sum(col("w")).as("zsum"), count(lit(1)).as("nw"))
      val scored = d.select(col("doc_id").as("id"), col("source"))
        .join(sums, Seq("id"), "left")
        .select(col("id"), col("source"),
          when(col("nw").isNull, lit(1000L))
            .otherwise(expr("(zsum + 1000 * nw) div nw")).as("q_int"))
      Sketches.histCalibrate(scored, "source", "q_int", step = 50L, nb = 41)
        .select("id", "source", "q_int", "bucket", "pct_micro").orderBy("id")
    },
    Some {
      val wWeightSql = s"(${TextFunctions.portableHash60Sql("'w8:' || w")} % 2001 - 1000)"
      Sketches.histCalibrateSql(
        s"""SELECT doc_id AS id, source,
              CAST(CASE WHEN len(ws) = 0 THEN 1000
                   ELSE (coalesce(list_sum(list_transform(ws, w -> $wWeightSql)), 0)
                         + 1000 * len(ws)) // len(ws) END AS BIGINT) AS q_int
            FROM (SELECT doc_id, source, ${TextFunctions.wordsSql("text")} AS ws FROM documents)""",
        "source", "q_int", step = 50L, nb = 41,
        cols = Seq("id", "source", "q_int")) + " ORDER BY id"
    }
  )

  /** Z-order layout + pruned box query ([[Layout]]): documents laid
    * out along the Morton curve of (length bucket × source-hash
    * bucket), then a box query that reaches the scan as
    * PartitionFilters on the z-prefix dirs (PlanShapeSpec pins the
    * pruning). The oracle computes the same z arithmetic directly over
    * `documents` and filters the same box — the layout round-trip must
    * be lossless and the box exact. */
  val zorderLayout: QueryDef = QueryDef(
    "zorder_layout",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"),
          least(expr("n_chars div 4"), lit(255L)).as("xb"),
          (TextFunctions.portableHash60(concat(lit("zy:"), col("source"))) % 256L).as("yb"))
      val path = gateScratchDir("graft_zorder_gate")
      Layout.zorderWrite(d, "xb", "yb", bits = 8, prefixShift = 12, path,
        org.apache.spark.sql.SaveMode.Overwrite)
      Layout.prunedBoxScan(s, path, "xb", "yb", 32, 96, 0, 127, bits = 8, prefixShift = 12)
        .select("doc_id", "xb", "yb", "z")
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id, xb, yb, ${Layout.zValueSql("xb", "yb", 8)} AS z
      FROM (SELECT doc_id, least(n_chars // 4, 255) AS xb,
                   ${TextFunctions.portableHash60Sql("'zy:' || source")} % 256 AS yb
            FROM documents)
      WHERE xb BETWEEN 32 AND 96 AND yb BETWEEN 0 AND 127
      ORDER BY doc_id""".trim)
  )

  /** Record linkage over structured rows ([[RecordLinkage]]): the
    * customer table plus planted "dirty" re-entries (one digit of the
    * padded id mistyped, balance nudged ≤ 3 cents) resolved by
    * multi-pass blocking — (nation, $100-balance-bucket) catches tail
    * typos, (segment, digit-tail) catches leading typos — then scored
    * by exact integer field agreement (positional digit agreement ×
    * 100 + balance-proximity bonus) and cut at 850. All arithmetic is
    * int64; balances go through DECIMAL(18,2) cents so neither engine
    * sees a float. The balance bucket shifts by +100000 before the
    * div so truncating (Spark) and flooring (DuckDB) division agree on
    * negative balances. */
  val entityMatch: QueryDef = QueryDef(
    "entity_match",
    (s, dir) => {
      val c = tbl(s, dir, "customer")
      val base = c.select(col("c_custkey").as("id"),
        col("c_nationkey").cast("long").as("nat"), col("c_mktsegment").as("seg"),
        substring(col("c_name"), 10, 9).as("sfx"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("balc"))
      val dirty = base.withColumn("p", (col("id") % 9).cast("int"))
        .select((col("id") + 2000000L).as("id"), col("nat"), col("seg"),
          expr("concat(substr(sfx, 1, p), " +
            "chr((ascii(substr(sfx, p + 1, 1)) - 48 + 1) % 10 + 48), " +
            "substr(sfx, p + 2))").as("sfx"),
          (col("balc") + col("id") % 7 - 3).as("balc"))
      val ents = base.unionByName(dirty)
        .withColumn("balb", expr("(balc + 100000) div 10000"))
        .withColumn("t5", substring(col("sfx"), 5, 5))
      val pairs = RecordLinkage.blockedPairs(ents, "id",
        Seq(Seq("nat", "balb"), Seq("seg", "t5")))
      RecordLinkage.withAttributes(pairs, ents, "id", Seq("sfx", "balc"))
        .withColumn("score",
          RecordLinkage.positionalAgreement(col("sfx_a"), col("sfx_b"), 9) * 100 +
            when(abs(col("balc_a") - col("balc_b")) <= 5, 100L).otherwise(0L))
        .filter(col("score") >= 850)
        .select("id_a", "id_b", "score").orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH base AS (
        SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
               substring(c_name, 10, 9) AS sfx,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS balc
        FROM customer),
      dirty AS (
        SELECT bid + 2000000 AS id, nat, seg,
               concat(substring(sfx, 1, p),
                      chr((ascii(substring(sfx, p + 1, 1)) - 48 + 1) % 10 + 48),
                      substring(sfx, p + 2)) AS sfx,
               balc + bid % 7 - 3 AS balc
        FROM (SELECT id AS bid, nat, seg, sfx, balc, CAST(id % 9 AS INT) AS p FROM base)),
      ents AS (
        SELECT id, nat, seg, sfx, balc,
               (balc + 100000) // 10000 AS balb, substring(sfx, 5, 5) AS t5
        FROM (SELECT * FROM base UNION ALL SELECT * FROM dirty)),
      pa AS (SELECT a.id AS id_a, b.id AS id_b FROM ents a JOIN ents b
             ON a.nat = b.nat AND a.balb = b.balb AND a.id < b.id),
      pb AS (SELECT a.id AS id_a, b.id AS id_b FROM ents a JOIN ents b
             ON a.seg = b.seg AND a.t5 = b.t5 AND a.id < b.id),
      cand AS (SELECT DISTINCT id_a, id_b FROM (SELECT * FROM pa UNION ALL SELECT * FROM pb)),
      scored AS (
        SELECT id_a, id_b,
          ${RecordLinkage.positionalAgreementSql("a.sfx", "b.sfx", 9)} * 100
            + CASE WHEN abs(a.balc - b.balc) <= 5 THEN 100 ELSE 0 END AS score
        FROM cand JOIN ents a ON a.id = cand.id_a JOIN ents b ON b.id = cand.id_b)
      SELECT id_a, id_b, CAST(score AS BIGINT) AS score
      FROM scored WHERE score >= 850 ORDER BY id_a, id_b""".trim)
  )

  /** Versioned-corpus lifecycle end to end
    * ([[graft.operators.Snapshots]]): documents commit as v0, a CDC
    * batch (10% revised, 10% tombstoned, 10% new ids) merges into v1
    * via the join-free union + max(struct) winner — ONE key-space
    * shuffle — and the gate reads v1 back through the manifest-gated
    * reader. The oracle replays base → changes → winner → tombstone
    * drop in SQL. */
  val corpusMerge: QueryDef = QueryDef(
    "corpus_merge",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft-snap").toString
      val docs = tbl(s, dir, "documents").select("doc_id", "source", "text")
      graft.operators.Snapshots.writeVersion(docs, base, 0L)
      val ups = docs.filter(col("doc_id") % 10 === 3)
        .withColumn("text", concat(col("text"), lit(" [rev2]")))
        .withColumn("op", lit("upsert"))
      val dels = docs.filter(col("doc_id") % 10 === 7).withColumn("op", lit("delete"))
      val ins = docs.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("source"),
          concat(lit("new:"), col("text")).as("text"))
        .withColumn("op", lit("upsert"))
      val v1 = graft.operators.Snapshots.upsert(
        s, base, ups.unionByName(dels).unionByName(ins), "doc_id")
      graft.operators.Snapshots.readVersion(s, base, v1)
        .select(col("doc_id"), col("source"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH cm_base AS (SELECT doc_id, source, text FROM documents),
      cm_chg AS (
        SELECT doc_id, source, text || ' [rev2]' AS text, 'upsert' AS op
        FROM cm_base WHERE doc_id % 10 = 3
        UNION ALL
        SELECT doc_id, source, text, 'delete' FROM cm_base WHERE doc_id % 10 = 7
        UNION ALL
        SELECT doc_id + 1000000000, source, 'new:' || text, 'upsert'
        FROM cm_base WHERE doc_id % 10 = 1),
      ${graft.operators.Snapshots.mergeBatchSql(
        "SELECT doc_id, source, text FROM cm_base",
        "SELECT doc_id, source, text, op FROM cm_chg",
        "doc_id", Seq("source", "text"))
        .replace("SELECT doc_id, source, text FROM sm_w",
          "SELECT doc_id, source, md5(text) AS text_md5 FROM sm_w")}
      ORDER BY doc_id
    """.stripMargin.trim)
  )

  /** Incremental JOIN-view maintenance
    * ([[graft.operators.Snapshots.refreshJoinMv]]): the delta-join
    * rule ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB applied to a support-counted
    * orders⋈customer view under simultaneous order inserts+retracts
    * AND customer segment moves (delete+insert pairs) — the oracle
    * recomputes A′⋈B′ from scratch, so any sign error, missed leg, or
    * post-batch-state feed diverges. */
  val mvJoinRefresh: QueryDef = QueryDef(
    "mv_join_refresh",
    (s, dir) => {
      val o = tbl(s, dir, "orders")
        .select(col("o_custkey").as("k"), (col("o_orderkey") % 12).as("month"),
          col("o_orderkey"))
      val aOld = o.filter(col("o_orderkey") % 10 =!= 0).select("k", "month")
      val da = o.filter(col("o_orderkey") % 10 === 0)
        .select(col("k"), col("month"), lit(1L).as("sign"))
        .unionByName(o.filter(col("o_orderkey") % 10 =!= 0 && col("o_orderkey") % 15 === 0)
          .select(col("k"), col("month"), lit(-1L).as("sign")))
      val bOld = tbl(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      val moved = bOld.filter(col("k") % 50 === 0)
      val db = moved.select(col("k"), col("seg"), lit(-1L).as("sign"))
        .unionByName(moved.select(col("k"), lit("MOVED").as("seg"), lit(1L).as("sign")))
      val mvOld = aOld.join(bOld, Seq("k"))
        .groupBy("k", "month", "seg").agg(count(lit(1)).as("m"))
      graft.operators.Snapshots.refreshJoinMv(mvOld, aOld, bOld, da, db, "k")
        .orderBy("k", "month", "seg")
    },
    Some("""
      WITH ap AS (
        SELECT o_custkey AS k, o_orderkey % 12 AS month FROM orders
        WHERE o_orderkey % 10 = 0 OR o_orderkey % 15 <> 0),
      bp AS (
        SELECT c_custkey AS k,
          CASE WHEN c_custkey % 50 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg
        FROM customer)
      SELECT k, month, seg, count(*) AS m
      FROM ap JOIN bp USING (k)
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """.trim)
  )

  /** Incremental aggregate-MV refresh
    * ([[graft.operators.Snapshots.refreshAggMv]]): yesterday's
    * per-source (count, char-sum) view plus a retraction stream
    * (today's inserts at +1, a slice of before-images at −1) must
    * equal the from-scratch aggregate — which is EXACTLY what the
    * oracle computes (the 100 TB base never re-read on the Spark
    * side; the slices compose so the final population is simply
    * doc_id % 8 ≠ 1). */
  val mvRefresh: QueryDef = QueryDef(
    "mv_refresh",
    (s, dir) => {
      val docs = tbl(s, dir, "documents").select("source", "doc_id", "n_chars")
      val mv = docs.filter(col("doc_id") % 4 =!= 0).groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("tot"))
      val cdc = docs.filter(col("doc_id") % 4 === 0)
        .select(col("source"), col("n_chars").as("v"), lit(1L).as("sign"))
        .unionByName(docs.filter(col("doc_id") % 8 === 1)
          .select(col("source"), col("n_chars").as("v"), lit(-1L).as("sign")))
      graft.operators.Snapshots.refreshAggMv(mv, cdc, "source", "v", "sign")
        .orderBy("source")
    },
    Some("""
      SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS tot
      FROM documents WHERE doc_id % 8 <> 1
      GROUP BY source ORDER BY source
    """.trim)
  )

  // mbox synthesis shared by the two eml gates: 10 messages per file,
  // each multipart/mixed (QP text/plain of the doc text + base64 html +
  // binary attachment), subject RFC-2047 B-encoded; every 9th document's
  // text part declares koi8-r and must quarantine as a marker row
  /** SQL string literal for a Scala string that may contain newlines
    * and quotes (newlines become chr(10) concatenations). */
  private def sqlLit(v: String): String =
    "'" + v.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  /** Gate-side encoding helpers used INSIDE task closures — kept in a
    * Serializable holder: a lambda that references a method on the
    * (non-Serializable) Pipeline object drags the whole module into
    * the closure and fails task serialization (caught by the eml
    * gates' sweep run). */
  private object GateEnc extends Serializable {
    /** Quoted-printable encoder (the DECODER is the engine's; this is
      * synthesis harness). Spaces encode as =20: the decoder's
      * transport-padding rule strips literal trailing WSP, and doc
      * text may end with one. */
    def qpEncode(text: String): String = {
      val bytes = text.getBytes("UTF-8")
      val sb = new StringBuilder
      bytes.foreach { b =>
        val c = b & 0xff
        if (c >= 33 && c <= 126 && c != '=') sb.append(c.toChar)
        else sb.append(f"=$c%02X")
      }
      sb.toString
    }

    private def lcg(n: Int, mod: Int): Array[Int] = {
      var x = 42L
      Array.fill(n) {
        x = x * 6364136223846793005L + 1442695040888963407L
        java.lang.Long.remainderUnsigned(x >>> 33, mod.toLong).toInt
      }
    }

    private val lcgWordList = Array("alpha", "beta", "gamma", "delta",
      "epsilon", "zeta", "eta", "theta", "iota", "kappa")

    /** Deterministic word soup (the fixture-generator LCG, seed 42). */
    def lcgWords(n: Int): Array[Byte] =
      lcg(n, 10).map(lcgWordList).mkString(" ").getBytes("US-ASCII")

    /** Deterministic byte noise (same LCG). */
    def lcgBytes(n: Int): Array[Byte] = lcg(n, 256).map(_.toByte)
  }

  private def emlMboxes(s: SparkSession, dir: String) = {
    import s.implicits._
    def qp(text: String): String = GateEnc.qpEncode(text)
    tbl(s, dir, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 / 10)
      .mapGroups { (g, it) =>
        val msgs = it.toSeq.sortBy(_._1).map { case (id, text) =>
          val subjB64 = java.util.Base64.getEncoder
            .encodeToString(s"Doc $id café".getBytes("UTF-8"))
          val cs = if (id % 9 == 0) "koi8-r" else "utf-8"
          val att = s"attachment $id".getBytes("US-ASCII")
          Seq(
            s"From sender@example.com Fri Aug 15 12:00:00 2026",
            s"From: Sender <sender@example.com>",
            s"To: list-$g@example.com",
            s"Subject: =?UTF-8?B?$subjB64?=",
            s"Date: Fri, 15 Aug 2026 12:00:00 +0000",
            "Content-Type: multipart/mixed; boundary=\"mix\"",
            "",
            "--mix",
            s"Content-Type: text/plain; charset=$cs",
            "Content-Transfer-Encoding: quoted-printable",
            "",
            qp(text),
            "--mix",
            "Content-Type: text/html; charset=us-ascii",
            "Content-Transfer-Encoding: base64",
            "",
            java.util.Base64.getEncoder.encodeToString(s"<p>Doc $id</p>".getBytes("US-ASCII")),
            "--mix",
            "Content-Type: application/octet-stream; name=\"d.bin\"",
            "Content-Disposition: attachment; filename=\"d.bin\"",
            "Content-Transfer-Encoding: base64",
            "",
            java.util.Base64.getEncoder.encodeToString(att),
            "--mix--").mkString("\r\n")
        }
        graft.sources.Eml.EmlFile(g, (msgs.mkString("\r\n") + "\r\n").getBytes("ISO-8859-1"))
      }
  }

  /** Politeness scheduling ([[graft.operators.Robots.schedule]]): a
    * synthesized frontier (17 hosts, per-host crawl delays) becomes a
    * fetch timetable — slot rank within host, fetch_at = slot × delay,
    * horizon cut. The oracle replays the window arithmetic. */
  val frontierSchedule: QueryDef = QueryDef(
    "frontier_schedule",
    (s, dir) => {
      val frontier = tbl(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("h"), col("doc_id") % 17, lit(".example.com")).as("host"),
          concat(lit("/page/"), col("doc_id")).as("url"),
          ((col("doc_id") % 17) % 5 + 1).cast("long").multiply(500L).as("delay_ms"))
      graft.operators.Robots.schedule(frontier, "host", "url", "delay_ms", horizonMs = 5000L)
        .select(col("doc_id"), col("host"), col("slot"), col("fetch_at_ms"), col("within_horizon"))
        .orderBy("doc_id")
    },
    Some("""
      WITH f AS (
        SELECT doc_id, 'h' || (doc_id % 17) || '.example.com' AS host,
          '/page/' || doc_id AS url, ((doc_id % 17) % 5 + 1) * 500 AS delay_ms
        FROM documents)
      SELECT doc_id, host,
        row_number() OVER (PARTITION BY host ORDER BY url) - 1 AS slot,
        (row_number() OVER (PARTITION BY host ORDER BY url) - 1) * delay_ms AS fetch_at_ms,
        (row_number() OVER (PARTITION BY host ORDER BY url) - 1) * delay_ms < 5000 AS within_horizon
      FROM f ORDER BY doc_id
    """.trim)
  )

  /** Unicode script detection ([[graft.operators.Scripts]]): the
    * multilingual routing fork. Every 6th-class document gets a
    * planted non-Latin passage (appended, or REPLACING the text so
    * dominance actually flips); the oracle replays the block-class
    * counting and the majority/tie rules in DuckDB. */
  val scriptDetect: QueryDef = QueryDef(
    "script_detect",
    (s, dir) => {
      val planted = tbl(s, dir, "documents")
        .select(col("doc_id").as("id"),
          when(col("doc_id") % 6 === 1, concat(col("text"), lit(" Привет мир это кириллица")))
            .when(col("doc_id") % 6 === 2, concat(col("text"), lit(" αλφα βητα γαμμα")))
            .when(col("doc_id") % 6 === 3, lit("مرحبا بالعالم هذا نص عربي طويل بما يكفي"))
            .when(col("doc_id") % 6 === 4, lit("北京大学中文系汉字文本处理与分析"))
            .when(col("doc_id") % 6 === 5, lit("1234 --- 5678 !?"))
            .otherwise(col("text")).as("text"))
      graft.operators.Scripts.detect(planted, "id", "text").orderBy("id")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS id,
          CASE CAST(doc_id % 6 AS INTEGER)
            WHEN 1 THEN text || ' Привет мир это кириллица'
            WHEN 2 THEN text || ' αλφα βητα γαμμα'
            WHEN 3 THEN 'مرحبا بالعالم هذا نص عربي طويل بما يكفي'
            WHEN 4 THEN '北京大学中文系汉字文本处理与分析'
            WHEN 5 THEN '1234 --- 5678 !?'
            ELSE text END AS text
        FROM documents),
      ${graft.operators.Scripts.detectSql("src")}
      ORDER BY id
    """.trim)
  )

  /** JSON-LD extraction ([[graft.operators.StructuredData]]): every
    * planted page carries an Article block; every 5th adds a MALFORMED
    * block that must surface as parse_ok=false, never drop. Oracle
    * replays the pattern + json_valid-guarded field pulls in DuckDB. */
  val jsonLdExtract: QueryDef = QueryDef(
    "jsonld_extract",
    (s, dir) => {
      val planted = tbl(s, dir, "documents")
        .select(col("doc_id").as("id"),
          concat(
            lit("<html><head><script type=\"application/ld+json\">{\"@type\":\"Article\",\"name\":\"Doc "),
            col("doc_id"),
            lit("\",\"url\":\"http://corpus.example/doc/"), col("doc_id"), lit("\"}</script>"),
            when(col("doc_id") % 5 === 0,
              "<script type=\"application/ld+json\">{broken json</script>").otherwise(""),
            lit("</head><body><p>"), col("text"), lit("</p></body></html>")).as("html"))
      graft.operators.StructuredData.jsonLd(planted, "id", "html")
        .orderBy("id", "block")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS id,
          '<html><head><script type="application/ld+json">{"@type":"Article","name":"Doc ' || doc_id ||
          '","url":"http://corpus.example/doc/' || doc_id || '"}</script>' ||
          CASE WHEN doc_id % 5 = 0 THEN '<script type="application/ld+json">{broken json</script>' ELSE '' END ||
          '</head><body><p>' || text || '</p></body></html>' AS html
        FROM documents),
      ${graft.operators.StructuredData.jsonLdSql("src")}
      SELECT * FROM jsonld ORDER BY id, block
    """.trim)
  )

  /** RTF ingest ([[graft.sources.Rtf]]): every document as an ANSI RTF
    * (font/color tables + starred generator group that must NOT leak,
    * specials and non-ASCII as hex/\\uN escapes). Encode→extract is
    * lossless modulo the paragraph trim, so the oracle reconstructs
    * from the source. */
  val rtfExtract: QueryDef = QueryDef(
    "rtf_extract",
    (s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          graft.sources.Rtf.RtfFile(id, graft.sources.Rtf.encodeRtf(Seq(
            s"Doc $id: ${text.take(80)}", "Em—dash & {braces} \\ done")))
        }
      graft.sources.Rtf.paragraphs(files).toDF()
        .select(col("id").as("doc_id"), col("para"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id", "para")
    },
    Some("""
      SELECT doc_id, 0 AS para, md5(trim('Doc ' || doc_id || ': ' || substring(text, 1, 80))) AS text_md5
      FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id, 1, md5('Em—dash & {braces} \ done') FROM documents WHERE doc_id < 200
      ORDER BY doc_id, para
    """.trim)
  )

  /** Subtitle ingest ([[graft.sources.Subtitles]]): every document's
    * transcript as an SRT (even ids) or WebVTT (odd ids — cue ids,
    * NOTE block, settings tail) file of two timed cues; the cue walk
    * must yield identical spans/text from both formats. Encode→parse
    * is lossless, so the oracle reconstructs cues arithmetically. */
  val subtitleCues: QueryDef = QueryDef(
    "subtitle_cues",
    (s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val cs = Seq(
            (id * 1000L, id * 1000L + 1500L, s"Cue A ${text.take(40)}"),
            (id * 1000L + 2000L, id * 1000L + 3500L, s"Cue B of $id"))
          graft.sources.Subtitles.SubFile(id,
            if (id % 2 == 0) graft.sources.Subtitles.encodeSrt(cs)
            else graft.sources.Subtitles.encodeVtt(cs))
        }
      graft.sources.Subtitles.cues(files).toDF()
        .select(col("id").as("doc_id"), col("cue"), col("start_ms"), col("end_ms"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id", "cue")
    },
    Some("""
      SELECT doc_id, 0 AS cue, doc_id * 1000 AS start_ms, doc_id * 1000 + 1500 AS end_ms,
        md5(trim('Cue A ' || substring(text, 1, 40))) AS text_md5 -- cue lines are trimmed
      FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id, 1, doc_id * 1000 + 2000, doc_id * 1000 + 3500, md5('Cue B of ' || doc_id)
      FROM documents WHERE doc_id < 200
      ORDER BY doc_id, cue
    """.trim)
  )

  /** The crawl→corpus path END TO END in one measured query: planted
    * pages (every 10th document also crawled at a mirror URL with
    * identical content) → multi-record WARC files → zstd framing →
    * [[graft.sources.Warc]] record walk → [[graft.operators.Boilerplate]]
    * main-content extraction → exact dedup on the extracted text
    * (min-doc_id survivor). Transport is lossless and extraction is
    * deterministic, so the oracle replays ONLY the extraction+dedup
    * algebra over the reconstructed page — the container legs are
    * pinned by their own gates. Two exchanges total: the smoothing
    * window's partition (reused by the group-concat) and the dedup
    * window on the text key. */
  val crawlCorpusE2e: QueryDef = QueryDef(
    "crawl_corpus_e2e",
    (s, dir) => {
      import s.implicits._
      val pages = tbl(s, dir, "documents")
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val mirror = if (id % 10 == 0) Seq((id + 1000000L, id, text)) else Nil
          (id, id, text) +: mirror
        } // (crawl_id, source_id, text)
      val files = pages
        .groupByKey(_._1 / 20) // synthesis-only shuffle; parse+extract are map-only
        .mapGroups { (g, it) =>
          // bodies arrive content-encoded like the real web: the r10
          // decode leg (gzip/deflate/br/zstd) runs inside the e2e path
          val encs = Seq("identity", "gzip", "deflate", "br", "zstd")
          val recs = it.toSeq.sortBy(_._1).map { case (cid, _, text) =>
            (s"http://corpus.example/page/$cid", "2026-01-01T00:00:00Z", "text/html",
              encs((cid % 5).toInt), (boilerHead + text + boilerTail).getBytes("UTF-8"))
          }
          graft.sources.Warc.WarcFile(g,
            graft.sources.Zstd.encodeRawFrames(graft.sources.Warc.encodeWarcEnc(recs)))
        }
      val html = graft.sources.Warc.records(files).toDF()
        .filter(col("error").isNull) // text tiers never ingest quarantined records
        .select(
          regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long").as("crawl_id"),
          col("payload").cast("string").as("html"))
      val main = graft.operators.Boilerplate.mainContent(html, "crawl_id", "html")
        .withColumnRenamed("id", "crawl_id")
      val byText = Window.partitionBy("main_text")
      main
        .withColumn("survivor", col("crawl_id") === min(col("crawl_id")).over(byText))
        .select(col("crawl_id"), col("n_good"), col("main_words"),
          md5(col("main_text")).as("main_md5"), col("survivor"))
        .orderBy("crawl_id")
    },
    Some(s"""
      WITH crawled AS (
        SELECT doc_id AS crawl_id, text FROM documents WHERE doc_id < 300
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 300 AND doc_id % 10 = 0),
      src AS (
        SELECT crawl_id AS id, '${boilerHead.replace("'", "''")}' || text || '${boilerTail.replace("'", "''")}' AS html
        FROM crawled),
      ${graft.operators.Boilerplate.blocksSql("src")},
      ${graft.operators.Boilerplate.mainContentSql}
      SELECT id AS crawl_id, n_good, main_words, md5(main_text) AS main_md5,
        id = min(id) OVER (PARTITION BY main_text) AS survivor
      FROM main ORDER BY crawl_id
    """.trim)
  )

  /** xz decode gate ([[graft.sources.Xz]]): embedded REAL system-xz
    * frames (full LZMA2 machinery: range coder, state machine, rep
    * distances; CRC32-checked container) decompress to pinned
    * lengths + md5s; a flipped payload bit must refuse via the check.
    * Pins come from the payload DEFINITIONS (`tools/
    * gen_xz_fixtures.py`), not from this decoder. */
  val xzDecode: QueryDef = QueryDef(
    "xz_decode",
    (s, dir) => {
      import s.implicits._
      // small_text -6 (120 B), runs -6 (148 B), tiny -1 (60 B), empty (32 B)
      val fx = Seq(
        ("small_text", "/Td6WFoAAATm1rRGAgAhARYAAAB0L+Wj4AODADddADoaCM52x+Xp1gc0w9EOv85V4aq94OSPmAHdjeUHVJ5lJV8nOmp+tNNJA4nO1H08/5reGd4PJgAAAPqMHOWwlGRlAAFThAcAAABvgP6QscRn+wIAAAAABFla",
          900L, "d6cefcbcdc9f8101531523095a3eaa96"),
        ("runs", "/Td6WFoAAATm1rRGAgAhARYAAAB0L+Wj4YafAFNdAD1v+7/+o7Fe5fg/sqomVfhocEFwFQ+N/R5MG4pCtxn0aRhxrmYjiopNL6MN2X+m44wjEVPgWRjFdYrid/i2lH8MasDedElk4ulcU7IE1rH1lwAAAABvDAHLBW5vWAABb6CNBgAAkORuUbHEZ/sCAAAAAARZWg==",
          100000L, "c8a63b8dc8a30221a1fa4804e6dcd9bf"),
        ("tiny", "/Td6WFoAAATm1rRGAgAhARAAAACocI6GAQAAYQAAAAAFK2Uud4QCMwABGQGlLIHMH7bzfQEAAAAABFla",
          1L, "0cc175b9c0f1b6a831c399e269772661"),
        ("filtered_delta", // --delta=dist=1 over the runs payload (filter-chain leg)
          "/Td6WFoAAATm1rRGAgEDAQAhARZ5IMTu4YafAFRdAD0AM//f/1HWr5AcG0yqPXso5Hp0vOWoSmMJU99k33aFQiG3f8mUtkDRBZ/X" +
          "3uO4eh5eJFr+jHgY1bspudaf9oXeTiI5wEIfue2gLAxvH6os8c8AAABvDAHLBW5vWAABcKCNBgAA3lTuo7HEZ/sCAAAAAARZWg==",
          100000L, "c8a63b8dc8a30221a1fa4804e6dcd9bf"),
        ("filtered_x86", // --x86 over a crafted E8/E9 call-dense payload
          "/Td6WFoAAATm1rRGAgEEACEBFgANhjUf4AXbA+JdAHQe1KCwA7vdGPbQWHGVCBePlbIH8h5fIGcyT6E5C2v/nmEK+8Pk5pAjhwIr" +
          "Ocp1Yol3ePoxns1EOlwrrrot3Zz9WBzG7o68Cm92/OWNtHNwR4tuHVHW729OnDpoZ8uIHUflPml0yk/Rm8KOvJtoXUxqDImLAKKb" +
          "lQ3Ui3sDlzqZKFcDV+NyqM6GLcEXXuxxyl4oNYJcV7I+DUx4N3FPAWJVEP1J4C3rH2m1KgUPRJzdTHq5shsDy7r2uGob5cyntNG1" +
          "cFI5aFe8e0zqFRcyp1zY1GLfjufj0UC3CHctx2fB5nXfL+psaZ3GMd5Xu6qFc9ojARXRp9hxEZrV3sFvpcHt4AL1ObzPsK9SCAXW" +
          "cuNeNMlpCoLBTe6gfap+bOehv1cLTpY9wu81SOVsFJjbAljipnO9tJqVJ6n/yl8FjyDz+nVeUJscyONnzuD8fytrSUM2O79UVDYV" +
          "sLBe5pOmwaMEwd+hPrk8S97EFJkv4fc/nu3hQu93lB5YQFqLm2ELrt+pF/mROSFQwCQQYOCkC3rtQrzY3G9rRWhMFYDBGxOEm0vC" +
          "pi3+22QJzMw1nUgpc3LVC6wbBzk9+R1GW63xb+tomucXEtuJaPazhAsudqnQf8mRey3ebHLPtIGoE1QQa2gAd39VKSKEuYHmcWCP" +
          "yA7VDRxHvwAzSimOl2Opb5mAR/Qtwfpww+Yep0c1XQ9ziRqh1x1PueytpnAC+r8/uqw1EfMDkawiUq3RbQ4LApS+C2JXQITGe2Uh" +
          "VIDBk8ZfVj1R81iqFpJ2j2Nj5ZYnpqz61hUHGX1ZnRrbGwE0LUcegW0FY1g0Hr4VUdD8umCHMwLy35Klytw+SYjem/3CvcMwbwQD" +
          "auP6JvNOQnvxS/3sfxmwuanRxyYOrXGdMuV2T3XXzWzedJfpeYYcdiqZabgyXH2zwVIWb9Uc+XwaL+YqBogHneu8qm9YKpE0gTwI" +
          "rdu1f3UVAnGV00f8FK+orTQ7K8Xurqq6sMEKda+oiBImqHrldWmN90d98j+tMt/WSmDnyFfAqIutJ4GRorZl00BBpMqVBq1sIXcl" +
          "XBVkcgeD3IJsNCK+zbcjA3N7BX1rE6+CLWPvKiQ0UjKtqoHWJjROC4nwYRCmX7tBZm8zHQtcFPVYmSM3SVEWtdhm93S+Ei/71LDT" +
          "HWOgalA3rVAAx3ByJ8KNzshbHJuSMqWRO9WVKzvWTdUrDhsY9zTAAlqPcoXzV2B1CwKm/E5qJLWIbSQHs35OsgAjn2n9NKRkWj8t" +
          "prmITAJLj+hWUczZbbApAt11B4jrLbI9KurgzZGGR+kpKfD6AEg4kHiXdWtTD4wa+DMAAADL3vw92Qg9YAAB/gfcCwAAZJk6PrHE" +
          "Z/sCAAAAAARZWg==",
          1500L, "a3f6cbfa1a03635b634ce83d665c7d07"),
        ("empty", "/Td6WFoAAATm1rRGAAAAABzfRCEftvN9AQAAAAAEWVo=",
          0L, "d41d8cd98f00b204e9800998ecf8427e"))
      val rows = fx.map { case (n, b64, _, _) => (n, b64) } :+
        (("corrupt", fx.head._2.take(80)))
      s.createDataset(rows).repartition(rows.size)
        .map { case (name, b64) =>
          try {
            val d = graft.sources.Xz.decompress(java.util.Base64.getDecoder.decode(b64))
            val md = java.security.MessageDigest.getInstance("MD5").digest(d)
            (name, d.length.toLong, md.map("%02x".format(_)).mkString, "ok")
          } catch {
            case scala.util.control.NonFatal(_) => (name, -1L, "", "refused")
          }
        }
        .toDF("name", "n_bytes", "payload_md5", "status")
        .orderBy("name")
    },
    Some("""
      SELECT * FROM (VALUES
        ('corrupt', CAST(-1 AS BIGINT), '', 'refused'),
        ('empty', CAST(0 AS BIGINT), 'd41d8cd98f00b204e9800998ecf8427e', 'ok'),
        ('filtered_delta', CAST(100000 AS BIGINT), 'c8a63b8dc8a30221a1fa4804e6dcd9bf', 'ok'),
        ('filtered_x86', CAST(1500 AS BIGINT), 'a3f6cbfa1a03635b634ce83d665c7d07', 'ok'),
        ('runs', CAST(100000 AS BIGINT), 'c8a63b8dc8a30221a1fa4804e6dcd9bf', 'ok'),
        ('small_text', CAST(900 AS BIGINT), 'd6cefcbcdc9f8101531523095a3eaa96', 'ok'),
        ('tiny', CAST(1 AS BIGINT), '0cc175b9c0f1b6a831c399e269772661', 'ok')
      ) AS t(name, n_bytes, payload_md5, status)
      ORDER BY name
    """.trim)
  )

  /** LZ4 decode gate ([[graft.sources.Lz4]]): ten embedded REAL
    * system-lz4 frames ([[Lz4Fixtures]] — multi-block, block-dependent,
    * per-block checksums, stored blocks, legacy frame, concatenated
    * frames) decompress to their pinned lengths + md5s, and a
    * truncated frame must refuse. Pins come from the payload
    * DEFINITIONS in `tools/gen_lz4_fixtures.py`, not this decoder. */
  val lz4Decode: QueryDef = QueryDef(
    "lz4_decode",
    (s, dir) => {
      import s.implicits._
      val rows = graft.queries.Lz4Fixtures.all.map { case (n, b64, _, _) => (n, b64) } :+
        (("corrupt", graft.queries.Lz4Fixtures.all.head._2.take(40)))
      s.createDataset(rows).repartition(rows.size)
        .map { case (name, b64) =>
          try {
            val d = graft.sources.Lz4.decompress(java.util.Base64.getDecoder.decode(b64))
            val md = java.security.MessageDigest.getInstance("MD5").digest(d)
            (name, d.length.toLong, md.map("%02x".format(_)).mkString, "ok")
          } catch {
            case scala.util.control.NonFatal(_) => (name, -1L, "", "refused")
          }
        }
        .toDF("name", "n_bytes", "payload_md5", "status")
        .orderBy("name")
    },
    Some {
      val vals = graft.queries.Lz4Fixtures.all
        .map { case (n, _, len, md5) => s"('$n', CAST($len AS BIGINT), '$md5', 'ok')" }
        .mkString(",\n          ") + ",\n          ('corrupt', CAST(-1 AS BIGINT), '', 'refused')"
      s"""
      SELECT * FROM (VALUES
          $vals) AS t(name, n_bytes, payload_md5, status)
      ORDER BY name
      """.trim
    }
  )

  /** Snappy decode gate ([[graft.sources.Snappy]]): a RUNTIME golden —
    * snappy-java (the library Spark itself ships for parquet, on the
    * executor classpath) compresses deterministic payloads into all
    * three layouts (raw block, framed stream, Hadoop block stream)
    * inside the task, our from-scratch decoder decodes them, and the
    * oracle pins each payload DEFINITION's length + md5. A decode
    * drift against the reference library flips the gate. A truncated
    * framed stream must refuse. */
  val snappyDecode: QueryDef = QueryDef(
    "snappy_decode",
    (s, dir) => {
      import s.implicits._
      val names = Seq("raw_text", "raw_runs", "raw_random", "framed_text",
        "framed_big", "hadoop_text", "corrupt")
      s.createDataset(names).repartition(names.size)
        .map { name =>
          val text = ("the quick brown fox jumps over the lazy dog. " * 20).getBytes("US-ASCII")
          val big = GateEnc.lcgWords(60000)
          try {
            val d: Array[Byte] = name match {
              case "raw_text" => graft.sources.Snappy.decodeRaw(
                org.xerial.snappy.Snappy.compress(text))
              case "raw_runs" => graft.sources.Snappy.decodeRaw(
                org.xerial.snappy.Snappy.compress(Array.fill(100000)('z'.toByte)))
              case "raw_random" => graft.sources.Snappy.decodeRaw(
                org.xerial.snappy.Snappy.compress(GateEnc.lcgBytes(5000)))
              case "framed_text" => graft.sources.Snappy.decompressFramed {
                val bo = new java.io.ByteArrayOutputStream()
                val fo = new org.xerial.snappy.SnappyFramedOutputStream(bo)
                fo.write(text); fo.close(); bo.toByteArray
              }
              case "framed_big" => graft.sources.Snappy.decompressFramed {
                val bo = new java.io.ByteArrayOutputStream()
                val fo = new org.xerial.snappy.SnappyFramedOutputStream(bo)
                fo.write(big); fo.close(); bo.toByteArray
              }
              case "hadoop_text" => graft.sources.Snappy.decodeHadoop {
                val raw = org.xerial.snappy.Snappy.compress(text)
                val o = new java.io.ByteArrayOutputStream()
                for (v <- Seq(text.length, raw.length)) {
                  o.write((v >>> 24) & 0xff); o.write((v >>> 16) & 0xff)
                  o.write((v >>> 8) & 0xff); o.write(v & 0xff)
                }
                o.write(raw, 0, raw.length); o.toByteArray
              }
              case "corrupt" =>
                val bo = new java.io.ByteArrayOutputStream()
                val fo = new org.xerial.snappy.SnappyFramedOutputStream(bo)
                fo.write(text); fo.close()
                graft.sources.Snappy.decompressFramed(
                  java.util.Arrays.copyOf(bo.toByteArray, bo.size() - 5))
            }
            val md = java.security.MessageDigest.getInstance("MD5").digest(d)
            (name, d.length.toLong, md.map("%02x".format(_)).mkString, "ok")
          } catch {
            case scala.util.control.NonFatal(_) => (name, -1L, "", "refused")
          }
        }
        .toDF("name", "n_bytes", "payload_md5", "status")
        .orderBy("name")
    },
    Some("""
      SELECT * FROM (VALUES
        ('corrupt', CAST(-1 AS BIGINT), '', 'refused'),
        ('framed_big', CAST(342253 AS BIGINT), '861987312b59a73b63a6840773606f86', 'ok'),
        ('framed_text', CAST(900 AS BIGINT), md5(repeat('the quick brown fox jumps over the lazy dog. ', 20)), 'ok'),
        ('hadoop_text', CAST(900 AS BIGINT), md5(repeat('the quick brown fox jumps over the lazy dog. ', 20)), 'ok'),
        ('raw_random', CAST(5000 AS BIGINT), '14a7405e1c52222a3ed5754ce768a485', 'ok'),
        ('raw_runs', CAST(100000 AS BIGINT), md5(repeat('z', 100000)), 'ok'),
        ('raw_text', CAST(900 AS BIGINT), md5(repeat('the quick brown fox jumps over the lazy dog. ', 20)), 'ok')
      ) AS t(name, n_bytes, payload_md5, status)
      ORDER BY name
    """.trim)
  )

  /** ZipCrypto gate ([[graft.sources.Archives.zipEntries]] password
    * leg): a REAL Info-ZIP `zip -P` archive (embedded) decrypts to its
    * pinned entry md5s with the right password; a wrong password and
    * a missing password both refuse loudly (check byte / named gap) —
    * the quarantine contract for encrypted members in a dump corpus. */
  val archiveZipCrypto: QueryDef = QueryDef(
    "archive_zipcrypto",
    (s, dir) => {
      import s.implicits._
      val zipB64 =
        "UEsDBBQACQAIAAIHEF0ergXKQwAAAIQDAAAHABwAb25lLnR4dFVUCQADpAqBaqQKgWp1eAsAAQQAAAAABAAAAADmKA1B+0KK8wXo" +
        "aIMsK1JvrX/w9TXYzDi2uPSZXGDiQclxzTyShAM5aWbT8k2ChLtpyfl3ymeWneLbLH9XTaQpp5F7UEsHCB6uBcpDAAAAhAMAAFBL" +
        "AwQKAAkAAAACBxBdcUqHPi4AAAAiAAAABwAcAHR3by50eHRVVAkAA6QKgWqkCoFqdXgLAAEEAAAAAAQAAAAAsS9eJtji+F03bNUp" +
        "Ul8fWgrMU1+5ozWpd/woGuxA0PouwaiphMsDM3ZCvDpSG1BLBwhxSoc+LgAAACIAAABQSwECHgMUAAkACAACBxBdHq4FykMAAACE" +
        "AwAABwAYAAAAAAABAAAApIEAAAAAb25lLnR4dFVUBQADpAqBanV4CwABBAAAAAAEAAAAAFBLAQIeAwoACQAAAAIHEF1xSoc+LgAA" +
        "ACIAAAAHABgAAAAAAAEAAACkgZQAAAB0d28udHh0VVQFAAOkCoFqdXgLAAEEAAAAAAQAAAAAUEsFBgAAAAACAAIAmgAAABMBAAAA" +
        "AA=="
      val attempts = Seq(("right", Some("s3cret pw")), ("wrong", Some("wrong password")),
        ("none", Option.empty[String]))
      s.createDataset(attempts).repartition(attempts.size)
        .flatMap { case (attempt, pw) =>
          val zip = java.util.Base64.getDecoder.decode(zipB64)
          try graft.sources.Archives.zipEntries(zip, pw).map { case (n, b) =>
            val md = java.security.MessageDigest.getInstance("MD5").digest(b)
            (attempt, n, md.map("%02x".format(_)).mkString, "ok")
          }
          catch {
            case scala.util.control.NonFatal(_) => Seq((attempt, "", "", "refused"))
          }
        }
        .toDF("attempt", "entry", "payload_md5", "status")
        .orderBy("attempt", "entry")
    },
    Some("""
      SELECT * FROM (VALUES
        ('none', '', '', 'refused'),
        ('right', 'one.txt', 'd6cefcbcdc9f8101531523095a3eaa96', 'ok'),
        ('right', 'two.txt', '20c2d7d3368c710517bd8565ecc2f747', 'ok'),
        ('wrong', '', '', 'refused')
      ) AS t(attempt, entry, payload_md5, status)
      ORDER BY attempt, entry
    """.trim)
  )


  /** zip METHOD-14 (LZMA) extraction gate: a RUNTIME golden — each task
    * muxes a real APPNOTE 5.8 LZMA zip with the classpath xz-java
    * encoder ([[graft.sources.Archives.encodeZipLzma]]), both
    * size-bounded and end-of-stream-marker forms, then extracts with
    * the from-scratch reader; the oracle replays the entry DEFINITIONS
    * (md5 over the deterministic text). A bad properties-size field and
    * a truncated archive must refuse. */
  val archiveZipLzma: QueryDef = QueryDef(
    "archive_zip_lzma",
    (s, dir) => {
      import s.implicits._
      val variants = Seq("sized", "eos", "badprops", "truncated")
      s.createDataset(variants).repartition(variants.size)
        .flatMap { v =>
          val gamma = (0 until 400).map(i => ('a' + (i * 31 + 7) % 26).toChar).mkString
          val entries = Seq(
            ("docs/alpha.txt", "alpha lzma doc [" + v + "]: " + "lorem ipsum dolor sit amet " * 40),
            ("docs/beta.txt", "beta " * 50 + v),
            ("docs/gamma.txt", gamma)).map { case (n, t) => (n, t.getBytes("UTF-8")) }
          val zip0 = graft.sources.Archives.encodeZipLzma(entries, eos = v == "eos")
          val zip = v match {
            case "badprops" =>
              val z = zip0.clone()
              // the first entry's [9,20,5,0] version+props-size prefix
              val at = z.indices.find(i => i + 3 < z.length &&
                z(i) == 9 && z(i + 1) == 20 && z(i + 2) == 5 && z(i + 3) == 0).get
              z(at + 2) = 4
              z
            case "truncated" => java.util.Arrays.copyOf(zip0, zip0.length - 30)
            case _ => zip0
          }
          try graft.sources.Archives.zipEntries(zip, None).map { case (n, b) =>
            val md = java.security.MessageDigest.getInstance("MD5").digest(b)
            (v, n, md.map("%02x".format(_)).mkString, b.length, "ok")
          }
          catch {
            case scala.util.control.NonFatal(_) => Seq((v, "", "", -1, "refused"))
          }
        }
        .toDF("variant", "entry", "payload_md5", "n_bytes", "status")
        .orderBy("variant", "entry")
    },
    Some("""
      WITH v(variant) AS (SELECT unnest(['sized', 'eos'])),
      g AS (SELECT string_agg(chr(CAST(97 + (i * 31 + 7) % 26 AS INT)), '' ORDER BY i) AS gamma
            FROM generate_series(0, 399) t(i)),
      entries AS (
        SELECT v.variant, e.entry, e.body
        FROM v CROSS JOIN g, LATERAL (VALUES
          ('docs/alpha.txt', 'alpha lzma doc [' || v.variant || ']: ' || repeat('lorem ipsum dolor sit amet ', 40)),
          ('docs/beta.txt', repeat('beta ', 50) || v.variant),
          ('docs/gamma.txt', g.gamma)) e(entry, body))
      SELECT variant, entry, md5(body) AS payload_md5, length(body) AS n_bytes, 'ok' AS status FROM entries
      UNION ALL SELECT 'badprops', '', '', -1, 'refused'
      UNION ALL SELECT 'truncated', '', '', -1, 'refused'
      ORDER BY variant, entry
    """.trim)
  )

  /** HEIF/AVIF triage gate ([[graft.sources.Heif]]): five embedded
    * REAL libheif/libaom encodes (.avif and .heic, RGB + alpha + odd
    * dimensions — the .heic ones are grid-tiled like real camera
    * output) triage to codec/dims/alpha/bit-depth rows pinned against
    * libheif's own API answers (`tools/gen_heif_fixtures.py`); a JPEG
    * and a plain-MP4 ftyp must refuse. No pixel is decoded — this is
    * the modern-image-web routing fork at archive scale. */
  val mediaHeifTriage: QueryDef = QueryDef(
    "media_heif_triage",
    (s, dir) => {
      import s.implicits._
      val rgb_64x48_avif =
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAOptZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAImlsb2MAAAAAREAAAQABAAAAAAEOAAEAAAAAAAAITgAAACNpaW5mAAAAAAABAAAAFWluZmUCAAAAAAEA" +
        "AGF2MDEAAAAAamlwcnAAAABLaXBjbwAAABNjb2xybmNseAACAAIABoAAAAAMYXYxQ4EADAAAAAAUaXNwZQAAAAAAAABAAAAAMAAA" +
        "ABBwaXhpAAAAAAMICAgAAAAXaXBtYQAAAAAAAAABAAEEgYIDhAAACFZtZGF0EgAKCRgVf72CBAQNCDK+EBZABhhhhQC/38uj+lou" +
        "HAgyvpJTRtV5TGPazFuNMielWuvwe5ScuuwgfXQSepAMkfO4Rh4mZxvyJwneKehve/TFDbeIXe584vvPgPowskaBQSM0n4OfFbiZ" +
        "ndVbmRElmPsOAulSRaFpxXugzJLwOhHK2YBq4aGl5LrGTZJmJ69JUlyhiaqWVAZhWbjoVOFAi+qrBk+FCyTHzFoWFdpstLUb248c" +
        "gRiL1rjl5rAi8MmGrW0U7vJPYOZGCHCarRif3ddshgwxnxt8Bg9jSPkVODSir7HqdDIkbo7LfmkpNZ+B6Oap7Yl/PRkGz2awuwGt" +
        "E0KKGj4ILItWMnyOkvfwytosKR+owaiAOU9jsVrrTqHWEDtVAPEqqkHrfY3I/QPQsjcYsLTLcHgRWW6j/W28Oxcr/rUsIiaz0oYT" +
        "vGbQiDuW6y6NcjThrzAAakSdHDpclpMmpBWXnAAaSITpAZmZHvfWh3nFtV3/8QSqsEY7Aojgtodfh55Ky3O09S6zGiH3YTAvfYwU" +
        "aY+97CSaTXlBlBGyfhUFMwV3PfziWP9L9Rtq/g/BUG024UvxV13tNQkpzpxPDBDblvYaC0zj/LaUbIp6Ckne7x8uPHySQeEKfbeA" +
        "or6FQ/Zt7+2w2QLju3Y9/QtS2rwIEpgWoN77BaIDeyydTj5oKcxLCYim9hd5Wxnc+8rTCNxO6m15KTMdVqKO+IFdaptBL9yg5zfO" +
        "OUgHKI5B3yDc12zvotLVlX+n3e4My+JzvKJi1TCbcofpe+GmkAMAgA3V1i1tu6NICw8sNU23QK37H26SxfIO6qMrdCv8Un+7dxZs" +
        "LiNPL+Aa9/gAJ08Hmc5WVcGKVKT4Cn38St5FMc2P3HYcxoa44TcoL7NOHdJsGehggOJC4CyEcWHuhwnWswseZ3wwBFEum+m1kPI0" +
        "lF7abKK2ZPqU40tsItGb1vfUFW9C4+f5iOa6OY0Gs2YG/sdkmkXNLsnnzuOyO6L0Mzxv0G4PMN9flDZh/S95IEiGBboqPdIuBVC0" +
        "VU0GhqqNbNJraHXnJxlifdNth2DulGJVvHQUejfoW4zP8eGNCeAgkS60l9EN0ClV1JbrIpeerynfPnrdZaGVZT3RXXl65W1VwGNP" +
        "F4GgZVkZyM3b0V/7/RJ11B/z2p7CFdD7F/iBC7aYs98d3VnN5KBbkgDTrXAnbWZxUyV2xgx2OcI3pGegg+bYWSM1nXWTgVrbVuhk" +
        "0JAsZA5tWKhhlJLS1kDn17ThZSIsDDN1L8D7VNVrMQ9zrWf7LKYtnvVIJgTRkIYxyndY66IsmhsbKarY0zvN2TFLEkdH6kdSX458" +
        "kVriF6m4mBobJ37G+gLjT16GPu1JCnNavIQWiH+6vQOq71a7v1tQUzypZ9aQyL1ymBV3VPRBlegN+DzsCAyZrld8/4NYQaC4o5Hs" +
        "B7GqEmlbsOMRpJmr7lV9bMdG2ZNG5lp+Teh/rnyoUrrOyVMUMQ2+hfUMDP2PTwIxI2vNtDWXYKueypyypt2E4Zw6X2iOoLsVOn/C" +
        "dl5mldSuEnhpGArsIYj8uxOhAot7CifebvEA44dpQwjcg4RjO/59v24I4UGGLg1hHdR5cplwwa6DYDIWqBLn0w/+oTkGEPHU+v9f" +
        "iUMUweaG9Vogds2X4U5Y3cEnvddYUM/Dn87QCYVZdOVPq3Z+BFy+WAowNLEfS24iv/Yh2KdHooDcPkyP59L54aH+QxOGMXufHnrQ" +
        "D83V5by2wVLMiJzskFUks/ZMIr/5qYZtapqeNY2YxzSFX9mYnlU98nHcexXKeMfBt18eKRuYzJlxjnFIYkELJI9RwbfadlmIwi5S" +
        "HR70GqvdeKZ9eTvjAwMp6rDz2Bi01eka1UssWEvMXKKtPJmyBUM/tNXGvKSC1S/XsYuLgtWaUOhZM2t0CNDsWzSmCNAX6d/frz6X" +
        "WBBSeQwOdHmHnDqKELV7c603Jw9FtK43UPxWjRdf2HSYYzKZoUM5I7jlbfXu7gspfvbr4AmpUN1HJhXfoNp4MCVfxenPwGQD42/m" +
        "6xgyT9ANx7mwRVhEUzG2A+tyd55xPl7BjASQQbvhs9xN37n0+jD/ma70oGw81lvzo/EkmIhCiy6OmMQ3WHZD4d7Y/7NNl5g84CvL" +
        "5uwTjZCZFcWjQznrwE2IY348B+KQhurhIP6jxyeZPh9ouJCP9uEs6L5l2zoBK3U9hodNq9qjK51mx6ASz2Dv68mELEkyyXW6lh3s" +
        "U5H+5O+RXXvBGpQLYsgeItO1zl6APSMbAbUSb1sqeyvX1TC4Oa5GQ+pbE4cjFtMvzjuyYwmDA1lY8MbAJOD2Y+wfphxn6HmZPNF7" +
        "ItaTQyvn7vtWivTwmwAeNVw6+trB8JSCqxmVJofIzMIDe2cynZ4a98RYrOJRg0KthC3WExSXYId6UtSOZyL6elDLZnOiPi1/h1zz" +
        "ghld1aMHLP+F4hvQd4NFSf+u0rsnGrWyw07VJGO33wL2Z/yCR9PHnlFyt4m2dqYG5hL9dKyVB89nNKYdwPLQ78680mwNs8ZCSl8T" +
        "fmrMlGphn6iA9BlPDjPkwZh5UfGmMY+KR7LaKv3bzCujVRn7LYj/ctoACEN8m2nf3w43jxYH8egSirRM8vOztInVbIhni/gXVulk" +
        "4NZ+t4zvit/Qk7Ws/hSzLaH3kfsf9U368kfRzGVwmF+VzSBrTvB5bLVdSIdbUszxeSTGpWHBK8eA99hCGxwZ8p2CrD2m5uoF+Nld" +
        "fytVf/Z4sWE6SEMzIKT2DkDHPwCbP8d3NhJV/exirzPa3p1gZcaBqkiQIr1JCsqPE7Dc2dY0EBzwQGIE+OBVzmNrBYBc9Pk="
      val alpha_32x32_avif =
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAZhtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAANGlsb2MAAAAAREAAAgACAAAAAAG8AAEAAAAAAAACXwABAAAAAAQbAAEAAAAAAAACzQAAADhpaW5mAAAA" +
        "AAACAAAAFWluZmUCAAAAAAEAAGF2MDEAAAAAFWluZmUCAAAAAAIAAGF2MDEAAAAA12lwcnAAAACxaXBjbwAAABNjb2xybmNseAAC" +
        "AAIABoAAAAAMYXYxQ4EAHAAAAAAUaXNwZQAAAAAAAAAgAAAAIAAAAA5waXhpAAAAAAEIAAAAOGF1eEMAAAAAdXJuOm1wZWc6bXBl" +
        "Z0I6Y2ljcDpzeXN0ZW1zOmF1eGlsaWFyeTphbHBoYQAAAAAMYXYxQ4EADAAAAAAUaXNwZQAAAAAAAAAgAAAAIAAAABBwaXhpAAAA" +
        "AAMICAgAAAAeaXBtYQAAAAAAAAACAAEEgYYHiAACBIIDhIUAAAAaaXJlZgAAAAAAAAAOYXV4bAACAAEAAQAABTRtZGF0EgAKBRgR" +
        "P/YVMtMEFkAYYQB3CX/2b8vh+9YumYrTSk/Z4Cp9D+0Yu9+mOnseOuReGGZc+OPhsCcnXeOFVdA6IUMX+A6qqydP9pQdHgcj1pID" +
        "4B4V0fzXLp/zZdlaXgK+C6lnvHuLTBFSXW+uOn2rkieSYhJC7vgT+AMNvQb3ABrjVgpmGuptH7lRifxGTYoNQ+53KeyGlukLgL7i" +
        "xnFk5zxO9P0snLswKTnS3NpBiNx1qWjffoiTUBEM+hyqjljHT6RBTs2j0M1kIaxTTNJHpR8D6SipeDGAOt8nNDfQBNO0juuL6xag" +
        "HR4EEKDo7KEa/qIHTf2t/dpoCTFzADxIawiGxSAet7lt5LiiyFFJftFPUueGMIwRz6vCwHUwZQ5fxQn0WBAmMbY4i8Vk4YPMrC9H" +
        "HhLwswj7KDf+1MVQFskNWps0agr8QxPlmB+dTPvs6BJAB78ml6sSLm9RvWYzl8u5q0wewkXJZJuU8v/hJU462TFhMOGu5iCsDoYF" +
        "SV/ERGHDPfcTi6cNHL6T77iJrD+DdXDrB3qD2GYSdb7yYYBaYhIWcvbxyX6Xchh0jdMKMl9PyQlaSKqkZ1R1gARYNa3DrzxMk41f" +
        "Y20aVEhGlYj9gFFIJNbY37BcIiNMF4fGqfwNTmewxZ9Zk+F8tjnvzvVrMkaE2CDSQI2cEi5HjQid5NS5xczQN3PTnm9deuSftNkN" +
        "0IrZuEKtfpF9NNNtZrHupLyVo1reQVEGqRceWDincCoU5SwjOTwSB2p7PKZaJB2HPB9BbK1pQ7thviaUoDoGm2MvPfBb1CR2fk5j" +
        "YBIACgkYET/2CBAQNCAyvQUWQAYYYYQAOnS5//4Xi/cJpDmAutGq4OfnB4kd8ouV8YsqAMKkyiXjoHa4hBfWdzTePNPqFZusn4jp" +
        "wazAkUzTq9EJ3DqEmDgvocCWW/37uTAooBKFrwF48Xp0VDlFVeCU5P10Zm0cPFDNTB2F0xDR4l26pY2MD1Izb3Pq2+V2iPC6nuyn" +
        "uLGKF7JrmVW3Lll07HkG8dGr80jKkUUfcM7AnBAKtLA1Qa0uZVBMyjf6Clml1wxsf57yLb0Aa0M7l2iM5skBHBtb3UBvJfS8AluD" +
        "2EGyRgSUSjx0LtswkWOIq6CtoBoA0l3czubgnQZzktsRNN2qQwk6P5CMnDB1rUyDff5+sXp9ZSkqHN1kUfe5ZvxhWPJEgUzrSDwR" +
        "Rz92RSQY6CtAW69Wpb+djKbXihuaKAZ4KQesxuVFcPphuZCKWj+3WD2HitNl2FeMTolh2/syI+ksC3L7O/xyr1ykcgO1NXzNzI2y" +
        "Cz+leS3PXey4FHhJqM38auIJu3c0WC5DdzOU08YRlFJxL0FCCUmCBat9y/7tkUKqOtD1QYWdaEw/pZW0lpORvrRlC9BDqM0mMq0L" +
        "OM4jS7NGVl38XkHcY3OUnc1cZcp7giHHw+Si+HEJnL9ah2QLFRv6EaFd8nQ5ougWCU8JAvNqmxcqM8InifA96btEBV3IhB+YvAKp" +
        "KAOO0AyX0TPj5VUXyzAWZEqSHqCaRCYetLAriHChBwrM1pEQlIsDfD9SuPmZZc9orUBscp/Y5OzxFMvME+G/kkNznsfN8UazBPXj" +
        "6UB9pvEofTHMkJIgBMMmUmAomgCI07ee1nMuSsRKgpRnzNBOv7DDAoNsCMAC4g8ySR0EriVjLq9dhfRAz4R5sbrC16RJ02lD/h3Z" +
        "KYF4A0f/kqnLIy5NiS7zhJXS05s4aYOS05aSXip1orZRF/hkN2ycCvrSgA=="
      val odd_33x17_avif =
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAOptZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAImlsb2MAAAAAREAAAQABAAAAAAEOAAEAAAAAAAAB9AAAACNpaW5mAAAAAAABAAAAFWluZmUCAAAAAAEA" +
        "AGF2MDEAAAAAamlwcnAAAABLaXBjbwAAABNjb2xybmNseAACAAIABoAAAAAMYXYxQ4EADAAAAAAUaXNwZQAAAAAAAAAhAAAAEQAA" +
        "ABBwaXhpAAAAAAMICAgAAAAXaXBtYQAAAAAAAAABAAEEgYIDhAAAAfxtZGF0EgAKCRgVIIMECAgaEDLkAxZABhhhhQDpVG44/Gh9" +
        "Y51vIrU8E4DjPa91o8u68N1X+XL7TXIU5TsvwHRuixwCiD4BGPhDdxdXGuHNIrS+T+10tzVBpP0iIYhppxvmHhnMKKpob+zTTAIv" +
        "Cd/DOQL1rla+/aqKmXyR7+heF3Dp49qxl8Lfcf57DgbcAiD2a8/eGxDffM7Zb7AOdObzo2VF0c1A84A1aMiyfiS1T/+mi86tgKze" +
        "RKWhW6Hha7jpQXkmQlC5J2+2jGNL3SL9bURa4pt1AchE9j4p0LCx9esSz1fx6djtfvROF45rhYw8dpV8XsCVcZwqETjauqFM2+6w" +
        "Nol89YJxjZKjkkP57bP5iAo7rJru6EVbcj206MwQoNep7MUhYwifbh1A0uUh/cKshOdpn0NZ56/zYZBsONGRxXvPkszGZv0yyvcF" +
        "Z0btoTS18BOyimyXFutY8FiYxX2+pcVBelzew6bkbDfurEwAV/q+EKKIiR+2+wbZN22DM9UxCCtczqkNDD7P52K/8iSGfrhOifSo" +
        "czG4mdFB7YNq+fCUp7gYRUMKyEeitbbTcHWgN5qnU+8q3EPY5dItiNAynavFEpO5jKWEn/gANEPBvNc5XSW2of33QR6kbVs9AlyD" +
        "9bkL3Tm+rjPm90/6+hdrOxBokHY="
      val rgb_64x48_heic =
        "AAAAHGZ0eXBoZWljAAAAAG1pZjFoZWljbWlhZgAAAa1tZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAACAAAAEGlkYXQAAAAAAEAAMAAAADhpbG9jAQAAAERAAAIAAQAAAAAAAAHRAAEAAAAAAAAKoQACAAEAAAAAAAAA" +
        "AQAAAAAAAAAIAAAAOGlpbmYAAAAAAAIAAAAVaW5mZQIAAAEAAQAAaHZjMQAAAAAVaW5mZQIAAAAAAgAAZ3JpZAAAAADYaXBycAAA" +
        "ALZpcGNvAAAAdmh2Y0MBA3AAAAAAAAAAAAAe8AD8/fj4AAAPAyAAAQAYQAEMAf//A3AAAAMAkAAAAwAAAwAeugJAIQABACpCAQED" +
        "cAAAAwCQAAADAAADAB6gIIEFlurkprm4EBAwIAAAAwAgAAADACEiAAEABkQBwXPAiQAAABRpc3BlAAAAAAAAAEAAAABAAAAAFGlz" +
        "cGUAAAAAAAAAQAAAADAAAAAQcGl4aQAAAAADCAgIAAAAGmlwbWEAAAAAAAAAAgABAoECAAICA4QAAAAaaXJlZgAAAAAAAAAOZGlt" +
        "ZwACAAEAAQAACqltZGF0AAAKnSgBrwngIzQDbX+v+252fyPD8+4ZXOtkE9jPLbDPpddx8lSkYyN9GIDvfwqyXkJfankeJ+rkV9aG" +
        "SmI3UP8yDoZ+88DIyOVs+pVXDar6uWGSzoT0ONPva1TJa9EekDcYh5SCk/Xq/G7AKWAYLNZdPqXC/PrlyY2bQarj6sRlXqoGnTBU" +
        "nxPvgBwERUGpY4JvDWKbV93d4n/ba2MFvqPQnU5eXX2ezpATJ4p5Vr24h9zQJDtA7JDVvilQk1h0TjJUZmfyrOIteJg4I5nud2SS" +
        "JRD9UX4CjuZD09CtK7X3HqPd43yUr1VJ3v1fxItNICcWOIolCYmE1yx6lJifst83cOEd1dQ+szlySo/PVVWp7LwVfGyl1JIIFDse" +
        "91ZLsmIJznWq4cc8FnypJKXWByxTclmIZOR4mZ5By4pYXK9RF1oOFRq9AojTAznNTVfeOQOvi4dDVPvi9PUz7CW/KFxntKbUSDgn" +
        "vLqe4gbClu2rftAehxL0UiVpRHEPHfQrIaZeM67Qcu92zOEWMxvcTrDEg+BxgcR+WC4ElzBdOxsJfTeoOcl8xwtCmqy5TzUmjOVG" +
        "drf1dumM+SLTeNkWcmWCkYx60nMWJZTa82th8j9oye9+xsUyovA1pT/zuB0XZy5fB7rNwQofI8Ddt55Zsl4rB92WLH2BKEbI6hSp" +
        "Mw3WojG9a41ZwYzG7c6guxu5Kz2ep4uY/02itEoXwMJcBtDHjhmpJzGYw27sZIk3h7f607OR64dCG2Eaye/P51cK+Cy7sRrmWd0/" +
        "kyYOIrU7aDRYF2p/0MkD3XBo/Wy1S+m0wwyJlKrjxQagxM+O39O0lh3cNapLwpvxBz7HhrKFOPQ7upuVBemTXU0RTaMYGnYeQP2o" +
        "B6t0c+mdBCdRoF+ZKlpaQrDDRnEfmnIo+EBcu72etcsJe06AhYdMgLFhM3UJwvE04EZk/qLF+xqZp2CZ+r4+GfID/8kU0W6o4GaT" +
        "PEcHW+qfkOcMgJT+Ry8C8SGHMhjhkXBiY4KaPQdpuyO87yudm2wSScSOiUqvOW9DJ2zEjSxrMc/CbZ2onhyDOri3cnX1aSGITJJB" +
        "S3jzz7stA4OxuFOdXu2CL1vP7dBsJKVPVJluz2WAA6iOn3RVzGYLdA4xtGwZhUDj+ia/mcET+uPiA5fiZ0eUXu8Yha67j3QXNAqn" +
        "O0PNdG6JeVwJlVk5ejps+V/iskiq2GSbpqMgldYtqKnT2gc1RDgc/Ycj06P+kRu3t01SGLSf1EG6r7gXY+w2CsjxgH/LJdTI8crS" +
        "B7wXKyoZOsvNoBXWU9Jwx+Wvd14+xS2cbsbDDtg2rFj5R1lsyUeg3VkeYJcjj7kCwEXSfnJwm5lZS6ewQvOdhFqWW2mTJl9qmKN0" +
        "auARQP1JRRzzK0LNLcGO7olzc361Ire7VsmNvGGHCLhq/GihcjAf0K3J40LVyyKztKOI6k3oiHaXP1cjOseCaX75ZixNT0qSVZ62" +
        "GGfufzsmhAuy1zXfU1RLHXifrd52KPuu7UMZwpuFyvPJ2jqVYXnLAUy91remsSZOdnxJLsHXV8CprnTceZbUyuwkf3Xu819I9bBP" +
        "d/RhBvoILY1P12nkyTxNSuqHAGCwFMp/jeqQ4dAPcNsEPdmP29L4VYnVlgjdAEe8NgSu6sRNvW8BK6WQ9hOTCdPz+/7qIf9h7ptC" +
        "iHjT5zO5Wonc6ERAcE0h4yrqIY+HGiAca0vW5l/BtK/iSlHl7LINDIPlqh+0q/B4djca3Kmu7URPo4ITYJGQ6PWkAOWBh1ea6J3O" +
        "3oM9eJEhaOESp7myMCt04wr/q2tTRD7ViiMNDaCSdhvyv7U0JoIuG4hd816KVC/yrjztlWmI0daMcVw50jUGgrJxOI+mQSr9BiW7" +
        "tSLjFkGST2D67N7eqfF/0SuuV1Js48pBg8CbYCbV8ir5JNJHfmC8VOH6MashT/OeDSdfdvDt/VYv/AC95Hg4amW3upPh7LIuega4" +
        "k4FzL6zg+GNnAiruxE5fv+zfLouLwFv9pNZa8h+rZNy6a8Ar4R9kOBt3/MGRGb+jaLZtSDMONbZ/5HLBW6aPpBWzqVGVkK+OYLg0" +
        "nihsUcGVoudQcuWVw5VOQGzOmiKyvMmUp5bCG6n6ExjEP4UugmQSFMeMmowj1hAWzRfc6+V/sV4Ua6U7cOAGZD4N6+tvfP1GwkmI" +
        "N8wB4cByOCXthTKjn1sTI+pqCL732JlpaJb9y9h7yhqh2zES0py0t/7jdAN5yFTJ2O4TTuycPe/RAQWDG0u2A8f9HeCAn0lPJyl6" +
        "dA0zZRVsZxt+5+f0egfRXNXzR93JAUr8oZ6kuNQFfwmpZ1OF1zvfDacbU+upLwm9U6ZzVLA2WfJjBN81mWppuf1uWUVfldIVy+DN" +
        "kzX4J/XmJpDNPcNRiw/d4wEcE1oluNURrTPJDcO83RUyFKqtr1vj4MQcZGrLpkCrlbCUR5UQnV7+4YOQuAuOucHF27gIcjeaPCRG" +
        "uhpRbgBeD8AWz+nWpD+CTbcfWyl6lbo+GMPMI4vnUrFWciySz2vgai/MXY3qIZJOi5KW/KM0EZOzHZMDGDoXmeM3A/LtGnKJToq2" +
        "w1NVM6mzhx8V7v8vrxFrH4t/SW0husaDS92WQACa0ChwGhIpiPau2A8RECKqe+IJHM0ngfXxBpDICY7kuzMFAGLGQ20XppBBjdav" +
        "UvmOaUhG7Dwn9bsJAOVUqX7uUovQ2+20OgDbyrZ0Bph6nYRM1CUp2mPGhmO4vgDPKusXEGoEzZ6Tt8ypcaZHnq3w9dwTRDZGdB81" +
        "QV7jXr4rUBCjDaRgAQ0I7iS0VlgsZdAcfpyBXasSYo4BZ6aB3hIY6fyKo0pY+Tq0hDqrQhXGNOryf1wuqSnoQfHqAmQL/UOYMLRn" +
        "/pQy5Eh6N8nS9fji3M2b2j0je+O2FYcBsHHGV0UnycNI4+uhfP5c5SdR1CN4FYKh9gw7CIF66X5TXJNmxsyWEM0z3dPdNubfitQr" +
        "E7xImbedfXlp18meb+ZxENhCLTDqHE1OYpYWuJ9clKciLZ+NuxdK/ms/EDXNc5+btkEnfXkVaOWuaXA/sICvSwXYghEeVPQzOo5Z" +
        "WIFSOcBFDUE8bxlrzcofoYVegzHWrqf3z4ysVTU2bu/2RP95B4zGeZrQsfiEjy730iUv5Mo2mpSf0afTBD1wqFMmGsPhLVBgEoKe" +
        "nc1UwJ62i3Bwxoty2YbwMytpBPYoieAwBcjAl5eDDTWvgClXuhMGLast9XjUUtqXZqPu3TdBw7fbm5HJHroT3kJvpKEzXGJK0MJz" +
        "iUKRkgNwGefh7mv20tj4ydg/j2FdfrGxXW85JP2g4AWH4cx0fMxmBS0guJZQ1xEyzH26KlL1Vzr3gThNEP3Ws3B9tS2OMCM6KYua" +
        "d0g9XPgqdIQh892RzvmgYbcyXaGboKzC2fBZovHZpainNN3atfRb1fp0KAAW8yApiLQ2qGK42Q74xr9veHc+oHTGk0LvG3nsgjx5" +
        "GQFwo00gK/y1y9GS1rk8LInrCmhw75iW+Q9ddNseSyAXAARJQ7gqc54G3TGYrReDJra6askcLekxV+EYeq7C0qwwTTU+jAalGncc" +
        "k9bGSXEIMlAhi3Rs9M3DYmZVnNEYv2p32B++rO+k/cXcyuLg"
      val alpha_32x32_heic =
        "AAAAHGZ0eXBoZWljAAAAAG1pZjFoZWljbWlhZgAAAvxtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAACAAAAGGlkYXQAAAAAACAAIAAAAAAAIAAgAAAAYGlsb2MBAAAAREAABAABAAAAAAAAAyAAAQAAAAAAAAPbAAIA" +
        "AQAAAAAAAAABAAAAAAAAAAgAAwAAAAAAAAb7AAEAAAAAAAADBQAEAAEAAAAAAAAAAQAAAAgAAAAIAAAAYmlpbmYAAAAAAAQAAAAV" +
        "aW5mZQIAAAEAAQAAaHZjMQAAAAAVaW5mZQIAAAAAAgAAZ3JpZAAAAAAVaW5mZQIAAAEAAwAAaHZjMQAAAAAVaW5mZQIAAAAABAAA" +
        "Z3JpZAAAAAGxaXBycAAAAYRpcGNvAAAAdmh2Y0MBA3AAAAAAAAAAAAAe8AD8/fj4AAAPAyAAAQAYQAEMAf//A3AAAAMAkAAAAwAA" +
        "AwAeugJAIQABACpCAQEDcAAAAwCQAAADAAADAB6gIIEFlurkprm4EBAwIAAAAwAgAAADACEiAAEABkQBwXPAiQAAABRpc3BlAAAA" +
        "AAAAAEAAAABAAAAAFGlzcGUAAAAAAAAAIAAAACAAAAAQcGl4aQAAAAADCAgIAAAAcWh2Y0MBBAgAAAAAAAAAAAAe8AD8/Pj4AAAP" +
        "AyAAAQAXQAEMAf//BAgAAAMAn/gAAAMAAB66AkAhAAEAJkIBAQQIAAADAJ/4AAADAAAewIIEFlurkprmwIAAAAMAgAAAAwCEIgAB" +
        "AAZEAcFzwIkAAAAUaXNwZQAAAAAAAABAAAAAQAAAABRpc3BlAAAAAAAAACAAAAAgAAAADnBpeGkAAAAAAQgAAAAnYXV4QwAAAAB1" +
        "cm46bXBlZzpoZXZjOjIwMTU6YXV4aWQ6MQAAAAAlaXBtYQAAAAAAAAAEAAECgQIAAgIDhAADAoUGAAQDB4iJAAAANmlyZWYAAAAA" +
        "AAAADmRpbWcAAgABAAEAAAAOZGltZwAEAAEAAwAAAA5hdXhsAAQAAQACAAAG6G1kYXQAAAPXKAGvCeA97Ci////S9yJaU20bGVbH" +
        "UDkFnQ+hQAnzNnnuLm+kaACQdyPAXh7E7UXsId1LGQ9zp4xjDeiCbNDefGeSLFRRphSbNaEcNsqPpKCMhVpAnhGnVP0tMiFeFJgj" +
        "ytprtA6AvONjqSFqYuUk96NmmXICDYsv2XBbmUzf3Ml9ma8RZxgmNkQMpWvnf3oJoLvkfsSTXoHB9lTIPyilMWsPvoPAscrW9Co2" +
        "Tw+4nzJz4icHQ9SK0bBpeja+yvPnxMahvm3KBeM8l9WbuOOWyTSm9s5+0YX6iPUm3TL37cIzRKTOn41S9iiWyZ5Bl67K9BrUWqGI" +
        "KQiW7z0tJttQ2+E0WeP18Gjl1bm+8QH+od8qLrLC4zedbIf/JQg0+Jv/SFGD3US2YOr9WI9bkquL+3Sni7agxMKx5dyV1mTGTAS0" +
        "WDD83ExDZKLkaYA/4qRvMGLvtuOa/Mblyi/LOVnHsTZBPMM9Nsq1HNIMC2vZFMROGLq+POBD/ZzNWsyQ+GhA/uTl8a+RcS5IdtTC" +
        "qUpZ+pXWVT8AjFx+osuehZJEMR6Uap3WlBUfrpBcaRGw5pk7j80ytQ+OTgqOozCsse/zYrEL7FypPp3veDXuZxdRdF4aksqCwJk+" +
        "Nt4bZRCHS+A3ddXK6flRS3Jkg63NFfMNfPHKMhduFWKBLlqXcyiIvn+z0NXTidD7yxu1bRjaBxoczugIqVqLXQvCg2PmrH8bXBeA" +
        "TAkgry12KvmFriHJVc8Su2NCtB0+rYC0J6J+YZ+OuSiS0XOpMdUhhjisuOUglYYLFYZgJ/oR5VxCUsjD1tAfKet0kfNHI9IR8hCs" +
        "YMZ+faoioM5NScEOfNFj6wEoIq69C4eq60X/+shpQE/2E0p1qd9nTY656yp6e7xBgA5f7ZXi2VE7xsnKlRoCl3luwJploYK/Ycmm" +
        "dc3ft8qACTyjRn4xNiEjtgbVesOV9B9g1FTYvS1tMUN7z7JVAWY9jBc/A1IEumcDbfU53QmWX240ZYW5AVQ03QJXoXqD7MYvYvOh" +
        "NI4YHTTWcQh4uIjJnu/7dyEXtAyT0fPwRTvx4vs2Pl3B/LDDJZ11CWMe8eY+YbO9kpk+yX3EWdyPghJoM5Fxwbkor8D/URT9LEcC" +
        "PLYT+KjGIhOwey4NC5zSz6l7m5ojbErUF7VlA/x6CzFR+Tv9ijDXC8UcbJskL+sSld4S62fBbreuK7f1k1y6Ol9bgs+W6VdXbWO5" +
        "L//7lcP+zWwD/f0fskINY3BIuom8RlQT1SxVz619xPfquU6xKBWN7RuI2QWcl9dAhEwEDUWRMc1KZAVbNMAAAAMBKAGuE8A7f+vf" +
        "/////7bDz29N45HKYf/20DDZDsGClQt6teVRYaALo8dLcq1ACAWsjHas6XljgZHfLZ/8wWnayzoL4S1psZrb6IAdmUyFrBPHo0WH" +
        "KDm4G2rB0t1+RmsXMrIhdmw3g6aFy+pUxGLaB/4qeSHeircex3RGwiujISxMFRD9TQtCrtvwqel/cCSjwC+6+e0qZ0Oscvh5RM23" +
        "kt6KpKXWuBnUGIEC4itFTNa7KC+2KjyLmkwx0qLfuYLbS/VDoY4epriAukg/3ziWkkpUvDEa1Z/fzQVEDtdcn7ZzxAj4OLaVp7ip" +
        "gD98dC0dWwtcCSK/Cv/1N4oOtSRF0lnyY2pkbdAOkvqPHqh7xElgitdAIbn3fpodwqJQJS4FZ1CEqLHuHtUWYQplrExNB6thS8eG" +
        "TLQ1uVbJWzmpCmSKpYffr04yQ9SLJalMBjYGf3/EbKoi/kKaR+CcfpS8Um1v+5BMbD+KTo4NOVNX/4/yEyZZcbC2H5AL+6nDI6Oi" +
        "X1E68GGAtnoT3r0lQTzX96DBjud6ddRr1hhswYDNoANk38OMvUcUntkG7iOqNk4pMDWgxokjLJzZyvKbKLTM3i7LTE2wW3JmExJG" +
        "45orOpmTCH1MMuH3Iu48K2g/cwl6rSSkZPhes1QVKMOPwGtDFnazPuLIyaMJxWjRl9WORk04cQE2lu/StBOOtLn3QjgoB+OoQ61M" +
        "ZWN1qo1XSArTOploHmMgNBxlkyUZ6xYGVrWRPpJZV/cdK50Q7dyU5afNbikfSI7HnUyyTJ4/Ab6YldiQZaa3OV8UkCDUaFAd4w5A" +
        "t55x+Hu14IGCNJxVUvuoVNXuJPFgOmUFxGElbPYun6gWrX+SBBwdqZANhv3RK5G8UXDsPkFts0U3Y/JELn3y+XqbJOYpMF4OCIX/" +
        "H52JTTtSNaobYGSCZI3zfSQqCtZNYHfcAr9+IQbffaXFMI87TAjZtWeMNh////+gg39uNZhBxe/4UtOrh7zgA+U93wMUVyoGtwlK" +
        "zDtJPOj09faf4A=="
      val jpeg_bait = java.util.Base64.getEncoder.encodeToString(
        Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte) ++ Array.fill(32)(0.toByte))
      val mp4_bait = java.util.Base64.getEncoder.encodeToString(
        Array[Byte](0, 0, 0, 16, 'f', 't', 'y', 'p', 'i', 's', 'o', 'm', 0, 0, 0, 0))
      val hbd_64x48_avif =
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAANhtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAJGlsb2MBAAAAREAAAQABAAAAAAAAAAAAAQAAAPwAAACeAAAAI2lpbmYAAAAAAAEAAAAVaW5mZQIAAAEA" +
        "AQAAYXYwMQAAAABWaXBycAAAADhpcGNvAAAAFGlzcGUAAAAAAAAAQAAAADAAAAAQcGl4aQAAAAADCgoKAAAADGF2MUOBBEwAAAAA" +
        "FmlwbWEAAAAAAAAAAQABA4GCgwAAAKZtZGF0EgAKCgAAAAKv95//CAgyjQEQALwAkkIIKNf/OTGdI5BiU1eIxrs16yUeWH/mXHcI" +
        "jYWS6RNv+dsvMt+IrS775D6IqHWtaKDcLXCUtIP/yJ61DDDB+EMy60mz8lEFPesZ+2LkXf036T6jTNvAE3tMRfzKWIKHrcyYjIBX" +
        "oj/4mN7dK+KWlWazK247HuaVX2X4xnF9M3GHeM3lKLOmBGA="
      val rows = Seq(
        ("rgb_avif", rgb_64x48_avif), ("alpha_avif", alpha_32x32_avif),
        ("odd_avif", odd_33x17_avif), ("rgb_heic", rgb_64x48_heic),
        ("alpha_heic", alpha_32x32_heic), ("hbd_avif", hbd_64x48_avif),
        ("jpeg_bait", jpeg_bait), ("mp4_bait", mp4_bait))
      s.createDataset(rows).repartition(rows.size)
        .map { case (name, b64) =>
          try {
            val t = graft.sources.Heif.triage(1L, java.util.Base64.getDecoder.decode(b64))
            (name, t.brand, t.codec, t.width, t.height, t.alpha, t.bitDepth, "ok")
          } catch {
            case scala.util.control.NonFatal(_) => (name, "", "", -1, -1, false, -1, "refused")
          }
        }
        .toDF("name", "brand", "codec", "width", "height", "alpha", "bit_depth", "status")
        .orderBy("name")
    },
    Some("""
      SELECT * FROM (VALUES
        ('alpha_avif', 'avif', 'av01', 32, 32, true, 8, 'ok'),
        ('alpha_heic', 'heic', 'hvc1', 32, 32, true, 8, 'ok'),
        ('hbd_avif', 'avif', 'av01', 64, 48, false, 10, 'ok'),
        ('jpeg_bait', '', '', -1, -1, false, -1, 'refused'),
        ('mp4_bait', '', '', -1, -1, false, -1, 'refused'),
        ('odd_avif', 'avif', 'av01', 33, 17, false, 8, 'ok'),
        ('rgb_avif', 'avif', 'av01', 64, 48, false, 8, 'ok'),
        ('rgb_heic', 'heic', 'hvc1', 64, 48, false, 8, 'ok')
      ) AS t(name, brand, codec, width, height, alpha, bit_depth, status)
      ORDER BY name
    """.trim)
  )


  /** AVIF pixel-decode gate ([[graft.sources.Heif.decodePrimary]] over
    * the in-repo AV1 intra decoder): four embedded fixtures — a REAL
    * libheif/libaom encode (filter-intra on), an alpha-aux one, an
    * odd-dims one, and a hand-muxed 2x2 grid with cropped output — emit
    * dims/alpha/quadrant-ARGB rows whose oracle literals were computed
    * OUTSIDE the engine (libdav1d's decode of each av01 item + the
    * documented BT.601 integer transform, tools/gen_avif_fixtures.py);
    * an hvc1 HEIC and a truncated AVIF must refuse by name. r12 adds
    * two GOOD-usage aom payloads: a 256x256 with coded loop-restoration
    * units (Wiener/SGR applied) and a 100x36 with CDEF on non-8-aligned
    * dims — the post-filter chain under the driver oracle — plus
    * hand-muxed 10-bit (profile 0 high_bitdepth) and 4:4:4 (profile 1)
    * items whose pins were computed from dav1d's decode + the
    * documented downshift-then-BT.601 transform
    * (tools/gen_avif_hbd.py). */
  val mediaAvifDecode: QueryDef = QueryDef(
    "media_avif_decode",
    (s, dir) => {
      import s.implicits._
      val rgb64 =
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAOptZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAImlsb2MAAAAAREAAAQABAAAAAAEOAAEAAAAAAAAITgAAACNpaW5mAAAAAAABAAAAFWluZmUCAAAAAAEA" +
        "AGF2MDEAAAAAamlwcnAAAABLaXBjbwAAABNjb2xybmNseAACAAIABoAAAAAMYXYxQ4EADAAAAAAUaXNwZQAAAAAAAABAAAAAMAAA" +
        "ABBwaXhpAAAAAAMICAgAAAAXaXBtYQAAAAAAAAABAAEEgYIDhAAACFZtZGF0EgAKCRgVf72CBAQNCDK+EBZABhhhhQC/38uj+lou" +
        "HAgyvpJTRtV5TGPazFuNMielWuvwe5ScuuwgfXQSepAMkfO4Rh4mZxvyJwneKehve/TFDbeIXe584vvPgPowskaBQSM0n4OfFbiZ" +
        "ndVbmRElmPsOAulSRaFpxXugzJLwOhHK2YBq4aGl5LrGTZJmJ69JUlyhiaqWVAZhWbjoVOFAi+qrBk+FCyTHzFoWFdpstLUb248c" +
        "gRiL1rjl5rAi8MmGrW0U7vJPYOZGCHCarRif3ddshgwxnxt8Bg9jSPkVODSir7HqdDIkbo7LfmkpNZ+B6Oap7Yl/PRkGz2awuwGt" +
        "E0KKGj4ILItWMnyOkvfwytosKR+owaiAOU9jsVrrTqHWEDtVAPEqqkHrfY3I/QPQsjcYsLTLcHgRWW6j/W28Oxcr/rUsIiaz0oYT" +
        "vGbQiDuW6y6NcjThrzAAakSdHDpclpMmpBWXnAAaSITpAZmZHvfWh3nFtV3/8QSqsEY7Aojgtodfh55Ky3O09S6zGiH3YTAvfYwU" +
        "aY+97CSaTXlBlBGyfhUFMwV3PfziWP9L9Rtq/g/BUG024UvxV13tNQkpzpxPDBDblvYaC0zj/LaUbIp6Ckne7x8uPHySQeEKfbeA" +
        "or6FQ/Zt7+2w2QLju3Y9/QtS2rwIEpgWoN77BaIDeyydTj5oKcxLCYim9hd5Wxnc+8rTCNxO6m15KTMdVqKO+IFdaptBL9yg5zfO" +
        "OUgHKI5B3yDc12zvotLVlX+n3e4My+JzvKJi1TCbcofpe+GmkAMAgA3V1i1tu6NICw8sNU23QK37H26SxfIO6qMrdCv8Un+7dxZs" +
        "LiNPL+Aa9/gAJ08Hmc5WVcGKVKT4Cn38St5FMc2P3HYcxoa44TcoL7NOHdJsGehggOJC4CyEcWHuhwnWswseZ3wwBFEum+m1kPI0" +
        "lF7abKK2ZPqU40tsItGb1vfUFW9C4+f5iOa6OY0Gs2YG/sdkmkXNLsnnzuOyO6L0Mzxv0G4PMN9flDZh/S95IEiGBboqPdIuBVC0" +
        "VU0GhqqNbNJraHXnJxlifdNth2DulGJVvHQUejfoW4zP8eGNCeAgkS60l9EN0ClV1JbrIpeerynfPnrdZaGVZT3RXXl65W1VwGNP" +
        "F4GgZVkZyM3b0V/7/RJ11B/z2p7CFdD7F/iBC7aYs98d3VnN5KBbkgDTrXAnbWZxUyV2xgx2OcI3pGegg+bYWSM1nXWTgVrbVuhk" +
        "0JAsZA5tWKhhlJLS1kDn17ThZSIsDDN1L8D7VNVrMQ9zrWf7LKYtnvVIJgTRkIYxyndY66IsmhsbKarY0zvN2TFLEkdH6kdSX458" +
        "kVriF6m4mBobJ37G+gLjT16GPu1JCnNavIQWiH+6vQOq71a7v1tQUzypZ9aQyL1ymBV3VPRBlegN+DzsCAyZrld8/4NYQaC4o5Hs" +
        "B7GqEmlbsOMRpJmr7lV9bMdG2ZNG5lp+Teh/rnyoUrrOyVMUMQ2+hfUMDP2PTwIxI2vNtDWXYKueypyypt2E4Zw6X2iOoLsVOn/C" +
        "dl5mldSuEnhpGArsIYj8uxOhAot7CifebvEA44dpQwjcg4RjO/59v24I4UGGLg1hHdR5cplwwa6DYDIWqBLn0w/+oTkGEPHU+v9f" +
        "iUMUweaG9Vogds2X4U5Y3cEnvddYUM/Dn87QCYVZdOVPq3Z+BFy+WAowNLEfS24iv/Yh2KdHooDcPkyP59L54aH+QxOGMXufHnrQ" +
        "D83V5by2wVLMiJzskFUks/ZMIr/5qYZtapqeNY2YxzSFX9mYnlU98nHcexXKeMfBt18eKRuYzJlxjnFIYkELJI9RwbfadlmIwi5S" +
        "HR70GqvdeKZ9eTvjAwMp6rDz2Bi01eka1UssWEvMXKKtPJmyBUM/tNXGvKSC1S/XsYuLgtWaUOhZM2t0CNDsWzSmCNAX6d/frz6X" +
        "WBBSeQwOdHmHnDqKELV7c603Jw9FtK43UPxWjRdf2HSYYzKZoUM5I7jlbfXu7gspfvbr4AmpUN1HJhXfoNp4MCVfxenPwGQD42/m" +
        "6xgyT9ANx7mwRVhEUzG2A+tyd55xPl7BjASQQbvhs9xN37n0+jD/ma70oGw81lvzo/EkmIhCiy6OmMQ3WHZD4d7Y/7NNl5g84CvL" +
        "5uwTjZCZFcWjQznrwE2IY348B+KQhurhIP6jxyeZPh9ouJCP9uEs6L5l2zoBK3U9hodNq9qjK51mx6ASz2Dv68mELEkyyXW6lh3s" +
        "U5H+5O+RXXvBGpQLYsgeItO1zl6APSMbAbUSb1sqeyvX1TC4Oa5GQ+pbE4cjFtMvzjuyYwmDA1lY8MbAJOD2Y+wfphxn6HmZPNF7" +
        "ItaTQyvn7vtWivTwmwAeNVw6+trB8JSCqxmVJofIzMIDe2cynZ4a98RYrOJRg0KthC3WExSXYId6UtSOZyL6elDLZnOiPi1/h1zz" +
        "ghld1aMHLP+F4hvQd4NFSf+u0rsnGrWyw07VJGO33wL2Z/yCR9PHnlFyt4m2dqYG5hL9dKyVB89nNKYdwPLQ78680mwNs8ZCSl8T" +
        "fmrMlGphn6iA9BlPDjPkwZh5UfGmMY+KR7LaKv3bzCujVRn7LYj/ctoACEN8m2nf3w43jxYH8egSirRM8vOztInVbIhni/gXVulk" +
        "4NZ+t4zvit/Qk7Ws/hSzLaH3kfsf9U368kfRzGVwmF+VzSBrTvB5bLVdSIdbUszxeSTGpWHBK8eA99hCGxwZ8p2CrD2m5uoF+Nld" +
        "fytVf/Z4sWE6SEMzIKT2DkDHPwCbP8d3NhJV/exirzPa3p1gZcaBqkiQIr1JCsqPE7Dc2dY0EBzwQGIE+OBVzmNrBYBc9Pk="
      val alpha48 =
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAZhtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAANGlsb2MAAAAAREAAAgACAAAAAAG8AAEAAAAAAAAF0gABAAAAAAeOAAEAAAAAAAAHCAAAADhpaW5mAAAA" +
        "AAACAAAAFWluZmUCAAAAAAEAAGF2MDEAAAAAFWluZmUCAAAAAAIAAGF2MDEAAAAA12lwcnAAAACxaXBjbwAAABNjb2xybmNseAAC" +
        "AAIABoAAAAAMYXYxQ4EAHAAAAAAUaXNwZQAAAAAAAAAwAAAAMAAAAA5waXhpAAAAAAEIAAAAOGF1eEMAAAAAdXJuOm1wZWc6bXBl" +
        "Z0I6Y2ljcDpzeXN0ZW1zOmF1eGlsaWFyeTphbHBoYQAAAAAMYXYxQ4EADAAAAAAUaXNwZQAAAAAAAAAwAAAAMAAAABBwaXhpAAAA" +
        "AAMICAgAAAAeaXBtYQAAAAAAAAACAAEEgYYHiAACBIIDhIUAAAAaaXJlZgAAAAAAAAAOYXV4bAACAAEAAQAADOJtZGF0EgAKBhgV" +
        "b72FQDLFCxTAEEEAvLPf7VbU2fAWv7THUVY47SJra8ZMJ4C6ctFAHicpk9m9xoHOpge8vAb1wKgb+hHDMvyyXlt7voHXK0ot/4Uv" +
        "H/cHZLujVXvuedF26H6cwDqN3PjixepJrmcLmV4yiHvWzJJG6n6ZyREjjP28Bec09qfl+vgTLSNn4eDjQNvBs4mIoQ00WvnRR72a" +
        "0jWS/O1CyJgfBBIu1y+nVPk+XV6AAoqUQOVWFYaiGNANp1H6O0Hr0gFb+/XBgHqJQfWRYU9KaSCGYjwvB83tkTaRMCMns0uo1UrC" +
        "dkHkWa8wnJUf2RFCaPZ6xWlXqUgV4GFHP4nSd5YJssU/9zOKaiPDsIOrjtZhzd+eO4L1BWvRzWnejwuhrDZNYrCoL3XhVIH+ps/t" +
        "nMQ3qiyBiG5tzWE7VvCdGYfLFKODFFemsnUlnQWFQjZs8dYLWNABU1qoP7uqyIYE4hdMQuDSt38h8GaXwaD8w1koyyYP++bdNDue" +
        "+J1kDq1r9nq5Bm4QryQxP2BUNyViN8Orubxij4aJOK/9meS+o53M0v1yQ4rZJOG8VrcZjNBqBfYiFdWQiCF88Xm4JRYsSwIjv2vP" +
        "W8fWV7v7TR3uN22+syKrqmP20sU8VgIMArGSdYngCc3okhDbpIaxgBhCF8JKbWSJpPkd+nFAjLLRuEOL+8JAncZbc+R1O5ZFZOpi" +
        "njrnM54H6hPpS+GnjRYadQuO0XHCVwOk+LMd6AUUWl8IY65xtERMh3GcJa+tfr8XHq1waohUB+FV27/mc9JHJdNqOZ+b1jJfRK19" +
        "FQAz/8vb+EtoFBjMPQNyPXZXzVRuClaNwTwTUaCCvyRA9KuWKa27GgrThJYgSL7HR4JMQbnFM6vf2/4kp9b/7qIv9OoIrc1xYojU" +
        "LlPHNeh6RnUY1RluDZzVz2Te8ozPfCq15e6syTOM+KgOk8QLh9ZSBouM6vtlOlRCZCwt2PjgkqtzTBgvUXrJEVtF5yrrdVzKbbac" +
        "cl+vNtddMEQ3IoAWeGEbozhj7VzYk/cQPVzUmZM6hgx1lq4Z+VHUCUNwgM/f/h9NP2rmRsEX20zYl45cquBL5279stFX1A0jleTZ" +
        "EsdH/vUaA/KjyKTOdbGqY9lO+UI0L4ZTzVakbeGVWyfJUwrgSCm4wRU1n35WD4WTqS5C/vOMk3ktzzMEc9xjJU6uU+46abbHgd42" +
        "TF0JVCVG4fw3IAdkUBB0jHvFfA/42kzK9Utvn203XvVfxaI4c6NvijH8saB28b/FpHp7AXih5IENyFD3+/qiRGM6DkxmWr7uJwHg" +
        "8YC1Ljpwtx9lUJL//+rGStqKFliIAL3t/pJt7PXZNfne6o9ZN8R9OgLed1w3nEM9v2Ynq8ft8pQuGKMviunxrb7os9iqLTnx1rwz" +
        "7FySJ03eakyTLo+aGoRExkb9pLORK2aMnvsE0x9iLUbbuEJuffRNTLmDcMeCMEloCD6sfZbl+WuOFslJ7yihIzI/Bx6CAc9r/2jT" +
        "KiRcIkiHQ3cFkXlafkbxGQXNSAtlhGKV/Ej+JZ42GsekqUgD6+lur2JUSRWJE/E1ov30jBAVXlg51QncjL29b2TZ22VWt+2mkrH2" +
        "rHZr8g9VsaXe1oV3yltqO9bHod3Ko8v8Me4pgCRyVBk49sf/hhms5JNMCLkFJqAY+TRe5WHOBEavsTX3sDHzeBGaUDoafoH/daLK" +
        "k2WMySerwwNxalrw8p2forLoTHsHESLuExFuloKF6k1BaIsKJ+orbxEEeD1DN/tX0rzjx7OuUqZYwn386+kHIhnI/ISN8T0dGqJK" +
        "HgSQ14CmQIB7ePoox9wzM1MpeYILip62KQpRSO6Rc5YqyQBd7WjAtzwB3KQi72DyD1DuGrGAkJkTVm2xXZBEH0xJf2Jwtc4nlxG1" +
        "7jRnslSukYgGzqA2ZBtbV6RG8sgzHr6ACNSrj/gtv6wM9mZ7QI9lPEnl60bkzlf4mKQleKmhEXnRZksSAAoJGBVvvYIEBA0IMvgN" +
        "FMAEEEEEAMumnP42QvrvmrAQeo+gGoQGEe4v1WXBF/4f1WAo2/Sww3aHQFORXRrc+nDLGb2GJdAdo7Eo6yn/hfmXGGT0XzE2Q6M4" +
        "x+xxH180ZsOJw5NfaJh3hvtIOA8wqzL8DRiL7vFnC8OJT9Kg3ZsVccLcGbwSaSk28x1hS0UZG/1ddeaXmrFK5aTIhEiHcQexDQ8O" +
        "DNnj/rxzKgLnHjQO23wt5nDO8mMU5T712cQ8t47fe+Z4WAmt4gf6wv3tfDSVFAmQDZptW7GsB/lDOsxmswBrBfgS7jYGYjgLY08v" +
        "Fp5HrPA996vnAxMwXpoPCbwkwRQX9dwyiPYaOcJztNJnZIy/G5tp55GMijXB3Skf5IRE3pzc/VE3vvtxq+uSVp33kJJFzqg0h7bC" +
        "Jnb0NvFPEap+yQ7jZjrSIki2nqb/wGPnwc6gOAWecidYC1eP9x1QyRDCh51YecqMPBOsaCN/3iLGLwIbyDZXcaxZqDx88nQx5lJT" +
        "TTiJWAOSBasE2YWA1ksl7n/1r0fNUIsgEU1vwLSrGxnnXLSXFkqQdG4/wIm267El7P5j7USUTGPU1ZDgPgXLEQIsb9fbG/xXZN9X" +
        "0WHlN0XDhmD2Z1/rA/wf5nrOr9obsWRFyzJtY9dFneZCJ8Dw8W7N2WKVwvWJKkI5Yg2t4pEA9wGtxjaZPmpHcvU+fHLi0h2sDz13" +
        "1iIwN9iUTvKL/k74fwXGLCOiuWuSTZK+iDzT5804lbBEjBlnOv0BWbm1fFK+lf+2LZWHA+SrpCk0KQR+Yk0MRHyXR+EHOZTHNZtd" +
        "NwPA2N5CCf9RsLUfxqUIR521Iuod4kQ0v244Q7mMKH+RNqD5eRxqp7Xk5OmMVBkiVeXqESY59065UenVFP3X6R4ZRjVYOZg4/8Aq" +
        "Bmh3n9W1felD8Lk+zHg/LMmQCiqS7n9DPeD2rGkMcRTsTL8lk2d7pqFTjmLBHoJI5kAKU+nt2eIMUAnCTJDiHwZPnsuqYZZZlNEF" +
        "lSFthkywAt8WFLj8LkZSKaegyz5hXTIGqmNuJPSl7MJmwYdIxilVur/h6Jy3YL0S+kmHDiP+qgpMiDTIJNIfSVQueByzabXExfYi" +
        "1ysl8+p+501tyHFNwfltb3JYA9TBkMpo0vR+o8P9WpJ1C/8LY53alHxMYRR4sNSyOqMyScV1vaJyjn/XOiwLK+o0n+mtNmGtl3DM" +
        "iGPufyclvSnYTeHvWpPLX3vtxnt9nntxYwtajHAwjQPmgAprIrPh2+/hiG9N8un3yDRNgsvRyZxUfy6r2HD2q2ExTu9jD62FOYfm" +
        "jO6XIRV0dJDLo8mLg823OvUyOXq36UyK1eZBe807KrL4mZmtF33ajWkpamRujIPOdTphMHy0Sg3KIsuuxTiLgWHPVLsjAIdsljHp" +
        "KnUQkBMtt0OcIsGFpVW2YNLcLKoDyiZJ/+xVosDWJCa/u17Bjx3exJlYO6TI7P/SQ40CgyPxYxO832nFT1PIwpYtjEjziiktDu06" +
        "Y592u7T2vf9k+UKBtYKHV6MOVZSXi+NGfhJvKLLKsuh2mW9Q2ir3hgMgCrm1lXkLhKCdyH4fgKpZI6nq+e5BffKX3GXvrZoeTLSC" +
        "ryhbNzhTkdpYPTU4iHbwGzDZnLJhmJpxrau7JSfKeek+sYTlpRj7zM1A8RAlRAmoc0e4cUXKNX4VkVwRIXIbCcNoje9wPKhorGDn" +
        "uvu7YxvBLGO97FrnZTYwnb+iqTSsDcHYXRg8unjzKGodkL3s8hANQ2cpZziTGZw3Npbi3yPZ50u2wkTPN1oX05aWoOQurLvQGN9o" +
        "zUEugUZ73ljla89uKBHXUwlzRkYJq3bvgUAtz+zLuBYdtvSiRlE9Bcm+uvyPaZALVnj+iARSdEk2Itm1JVFdsgmWdw+kPPCdWpkj" +
        "anR20sGdK/PwvfjfQSLuceYVrlXB1zvf4XG1ausgj8smqyHidQRqlrUHZDPzjKO9oy55nprMd55ZSpSx6+q0thOX/slgczUc7+92" +
        "GX0gpDfBWcySC4XiUbKL+LLnSeVzY3LjNsueW/4vVis3L4vTBhivHpbVi/sm+6KpxIZNXxJbTpenP+sG1tcuJOa17ezqN6F8RyGR" +
        "+OqBnqp6exIST4wtcAXxw4hx6QF8FE2EYb+uR4w47JbAjVrajMgoBfsLz3lWl4Z2RxOA7JZ5Fhb9A2+OeTly/Ux72Qu5xiePj/Lp" +
        "vhkDxMKVaE4l+8xBszh9cS4KSshCilsnJPbS1LA31BdO/Y2mV76yEOz1HAdvdfTT02u6Vm1pWfvi46Qs+jvUNsnzAkpQBk9FsI4q" +
        "dSaLVZITPnYvPlq08eD6aExouNmxOBTjHsi7Y5FcmwqtLLm7tRlclz8DKANg6w2HI8SQbCDYu8I/s4A="
      val odd33 =
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAOptZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAImlsb2MAAAAAREAAAQABAAAAAAEOAAEAAAAAAAABEAAAACNpaW5mAAAAAAABAAAAFWluZmUCAAAAAAEA" +
        "AGF2MDEAAAAAamlwcnAAAABLaXBjbwAAABNjb2xybmNseAACAAIABoAAAAAMYXYxQ4EADAAAAAAUaXNwZQAAAAAAAAAhAAAAEQAA" +
        "ABBwaXhpAAAAAAMICAgAAAAXaXBtYQAAAAAAAAABAAEEgYIDhAAAARhtZGF0EgAKCRgVIIMECAgaEDKAAhsAGmmmhADtY/nCxOvr" +
        "5C/tV/Xe1Z/Oku1JGkD2nBp85DUfO3ipF8Ksk92SF7nRz8KMkGY17LsGQEObFYucPeKgPB4JVllCGsT/GeIqh1iCEa9aByiiKExv" +
        "R9xvnr2tuicI515jmCPp/z1VY9VdvqpLtTJ5Zt/ISerziq6VD6JV/ivHYw14G++NydH3eXAc82f+hDVoqO9cv+seWqxsYSTm5ZJb" +
        "UaD81897iwUj650nknuPHcCdn5k0d9bytqykvGAisYQ68Znew+lOJ6BJCITdfKdbhWLzceRXXcTGR/mNnkkLV01oPUaMGVAcabdo" +
        "FU4IW1GCA9D+MxeusLTnLMg="
      val grid100 =
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAdNtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAdGlsb2MBAAAAREAABQABAAEAAAAAAAAAAQAAAAAAAAAIAAIAAAAAAAAAAAABAAAB9wAAACYAAwAAAAAA" +
        "AAAAAAEAAAIdAAAAJgAEAAAAAAAAAAAAAQAAAkMAAAAmAAUAAAAAAAAAAAABAAACaQAAACYAAAB3aWluZgAAAAAABQAAABVpbmZl" +
        "AgAAAAABAABncmlkAAAAABVpbmZlAgAAAQACAABhdjAxAAAAABVpbmZlAgAAAQADAABhdjAxAAAAABVpbmZlAgAAAQAEAABhdjAx" +
        "AAAAABVpbmZlAgAAAQAFAABhdjAxAAAAAH1pcHJwAAAATGlwY28AAAAUaXNwZQAAAAAAAABkAAAAWgAAABBwaXhpAAAAAAMICAgA" +
        "AAAMYXYxQ4EEDAAAAAAUaXNwZQAAAAAAAABAAAAAMAAAAClpcG1hAAAAAAAAAAUAAQKBggACAoOEAAMCg4QABAKDhAAFAoOEAAAA" +
        "IGlyZWYAAAAAAAAAFGRpbWcAAQAEAAIAAwAEAAUAAAAQaWRhdAAAAQEAZABaAAAAoG1kYXQSAAoKAAAAAq/3r/8QCDIWEACAAABL" +
        "F8qT7r+DTmlqVemNJKKvixIACgoAAAACr/ev/xAIMhYQAIAAAEsP+R9sFaj5QCrXrKrIugKkEgAKCgAAAAKv96//EAgyFhAAgAAA" +
        "SxfEmyOv4M/Bp4UuzN01FtQSAAoKAAAAAq/3r/8QCDIWEACAAABLD8YJ1rBWo+Y+/l6yqqnl9A=="
      val heicBait =
        "AAAAHGZ0eXBoZWljAAAAAG1pZjFoZWljbWlhZgAAAa1tZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAACAAAAEGlkYXQAAAAAAEAAMAAAADhpbG9jAQAAAERAAAIAAQAAAAAAAAHRAAEAAAAAAAAKoQACAAEAAAAAAAAA" +
        "AQAAAAAAAAAIAAAAOGlpbmYAAAAAAAIAAAAVaW5mZQIAAAEAAQAAaHZjMQAAAAAVaW5mZQIAAAAAAgAAZ3JpZAAAAADYaXBycAAA" +
        "ALZpcGNvAAAAdmh2Y0MBA3AAAAAAAAAAAAAe8AD8/fj4AAAPAyAAAQAYQAEMAf//A3AAAAMAkAAAAwAAAwAeugJAIQABACpCAQED" +
        "cAAAAwCQAAADAAADAB6gIIEFlurkprm4EBAwIAAAAwAgAAADACEiAAEABkQBwXPAiQAAABRpc3BlAAAAAAAAAEAAAABAAAAAFGlz" +
        "cGUAAAAAAAAAQAAAADAAAAAQcGl4aQAAAAADCAgIAAAAGmlwbWEAAAAAAAAAAgABAoECAAICA4QAAAAaaXJlZgAAAAAAAAAOZGlt" +
        "ZwACAAEAAQAACqltZGF0AAAKnSgBrwngIzQDbX+v+252fyPD8+4ZXOtkE9jPLbDPpddx8lSkYyN9GIDvfwqyXkJfankeJ+rkV9aG" +
        "SmI3UP8yDoZ+88DIyOVs+pVXDar6uWGSzoT0ONPva1TJa9EekDcYh5SCk/Xq/G7AKWAYLNZdPqXC/PrlyY2bQarj6sRlXqoGnTBU" +
        "nxPvgBwERUGpY4JvDWKbV93d4n/ba2MFvqPQnU5eXX2ezpATJ4p5Vr24h9zQJDtA7JDVvilQk1h0TjJUZmfyrOIteJg4I5nud2SS" +
        "JRD9UX4CjuZD09CtK7X3HqPd43yUr1VJ3v1fxItNICcWOIolCYmE1yx6lJifst83cOEd1dQ+szlySo/PVVWp7LwVfGyl1JIIFDse" +
        "91ZLsmIJznWq4cc8FnypJKXWByxTclmIZOR4mZ5By4pYXK9RF1oOFRq9AojTAznNTVfeOQOvi4dDVPvi9PUz7CW/KFxntKbUSDgn" +
        "vLqe4gbClu2rftAehxL0UiVpRHEPHfQrIaZeM67Qcu92zOEWMxvcTrDEg+BxgcR+WC4ElzBdOxsJfTeoOcl8xwtCmqy5TzUmjOVG" +
        "drf1dumM+SLTeNkWcmWCkYx60nMWJZTa82th8j9oye9+xsUyovA1pT/zuB0XZy5fB7rNwQofI8Ddt55Zsl4rB92WLH2BKEbI6hSp" +
        "Mw3WojG9a41ZwYzG7c6guxu5Kz2ep4uY/02itEoXwMJcBtDHjhmpJzGYw27sZIk3h7f607OR64dCG2Eaye/P51cK+Cy7sRrmWd0/" +
        "kyYOIrU7aDRYF2p/0MkD3XBo/Wy1S+m0wwyJlKrjxQagxM+O39O0lh3cNapLwpvxBz7HhrKFOPQ7upuVBemTXU0RTaMYGnYeQP2o" +
        "B6t0c+mdBCdRoF+ZKlpaQrDDRnEfmnIo+EBcu72etcsJe06AhYdMgLFhM3UJwvE04EZk/qLF+xqZp2CZ+r4+GfID/8kU0W6o4GaT" +
        "PEcHW+qfkOcMgJT+Ry8C8SGHMhjhkXBiY4KaPQdpuyO87yudm2wSScSOiUqvOW9DJ2zEjSxrMc/CbZ2onhyDOri3cnX1aSGITJJB" +
        "S3jzz7stA4OxuFOdXu2CL1vP7dBsJKVPVJluz2WAA6iOn3RVzGYLdA4xtGwZhUDj+ia/mcET+uPiA5fiZ0eUXu8Yha67j3QXNAqn" +
        "O0PNdG6JeVwJlVk5ejps+V/iskiq2GSbpqMgldYtqKnT2gc1RDgc/Ycj06P+kRu3t01SGLSf1EG6r7gXY+w2CsjxgH/LJdTI8crS" +
        "B7wXKyoZOsvNoBXWU9Jwx+Wvd14+xS2cbsbDDtg2rFj5R1lsyUeg3VkeYJcjj7kCwEXSfnJwm5lZS6ewQvOdhFqWW2mTJl9qmKN0" +
        "auARQP1JRRzzK0LNLcGO7olzc361Ire7VsmNvGGHCLhq/GihcjAf0K3J40LVyyKztKOI6k3oiHaXP1cjOseCaX75ZixNT0qSVZ62" +
        "GGfufzsmhAuy1zXfU1RLHXifrd52KPuu7UMZwpuFyvPJ2jqVYXnLAUy91remsSZOdnxJLsHXV8CprnTceZbUyuwkf3Xu819I9bBP" +
        "d/RhBvoILY1P12nkyTxNSuqHAGCwFMp/jeqQ4dAPcNsEPdmP29L4VYnVlgjdAEe8NgSu6sRNvW8BK6WQ9hOTCdPz+/7qIf9h7ptC" +
        "iHjT5zO5Wonc6ERAcE0h4yrqIY+HGiAca0vW5l/BtK/iSlHl7LINDIPlqh+0q/B4djca3Kmu7URPo4ITYJGQ6PWkAOWBh1ea6J3O" +
        "3oM9eJEhaOESp7myMCt04wr/q2tTRD7ViiMNDaCSdhvyv7U0JoIuG4hd816KVC/yrjztlWmI0daMcVw50jUGgrJxOI+mQSr9BiW7" +
        "tSLjFkGST2D67N7eqfF/0SuuV1Js48pBg8CbYCbV8ir5JNJHfmC8VOH6MashT/OeDSdfdvDt/VYv/AC95Hg4amW3upPh7LIuega4" +
        "k4FzL6zg+GNnAiruxE5fv+zfLouLwFv9pNZa8h+rZNy6a8Ar4R9kOBt3/MGRGb+jaLZtSDMONbZ/5HLBW6aPpBWzqVGVkK+OYLg0" +
        "nihsUcGVoudQcuWVw5VOQGzOmiKyvMmUp5bCG6n6ExjEP4UugmQSFMeMmowj1hAWzRfc6+V/sV4Ua6U7cOAGZD4N6+tvfP1GwkmI" +
        "N8wB4cByOCXthTKjn1sTI+pqCL732JlpaJb9y9h7yhqh2zES0py0t/7jdAN5yFTJ2O4TTuycPe/RAQWDG0u2A8f9HeCAn0lPJyl6" +
        "dA0zZRVsZxt+5+f0egfRXNXzR93JAUr8oZ6kuNQFfwmpZ1OF1zvfDacbU+upLwm9U6ZzVLA2WfJjBN81mWppuf1uWUVfldIVy+DN" +
        "kzX4J/XmJpDNPcNRiw/d4wEcE1oluNURrTPJDcO83RUyFKqtr1vj4MQcZGrLpkCrlbCUR5UQnV7+4YOQuAuOucHF27gIcjeaPCRG" +
        "uhpRbgBeD8AWz+nWpD+CTbcfWyl6lbo+GMPMI4vnUrFWciySz2vgai/MXY3qIZJOi5KW/KM0EZOzHZMDGDoXmeM3A/LtGnKJToq2" +
        "w1NVM6mzhx8V7v8vrxFrH4t/SW0husaDS92WQACa0ChwGhIpiPau2A8RECKqe+IJHM0ngfXxBpDICY7kuzMFAGLGQ20XppBBjdav" +
        "UvmOaUhG7Dwn9bsJAOVUqX7uUovQ2+20OgDbyrZ0Bph6nYRM1CUp2mPGhmO4vgDPKusXEGoEzZ6Tt8ypcaZHnq3w9dwTRDZGdB81" +
        "QV7jXr4rUBCjDaRgAQ0I7iS0VlgsZdAcfpyBXasSYo4BZ6aB3hIY6fyKo0pY+Tq0hDqrQhXGNOryf1wuqSnoQfHqAmQL/UOYMLRn" +
        "/pQy5Eh6N8nS9fji3M2b2j0je+O2FYcBsHHGV0UnycNI4+uhfP5c5SdR1CN4FYKh9gw7CIF66X5TXJNmxsyWEM0z3dPdNubfitQr" +
        "E7xImbedfXlp18meb+ZxENhCLTDqHE1OYpYWuJ9clKciLZ+NuxdK/ms/EDXNc5+btkEnfXkVaOWuaXA/sICvSwXYghEeVPQzOo5Z" +
        "WIFSOcBFDUE8bxlrzcofoYVegzHWrqf3z4ysVTU2bu/2RP95B4zGeZrQsfiEjy730iUv5Mo2mpSf0afTBD1wqFMmGsPhLVBgEoKe" +
        "nc1UwJ62i3Bwxoty2YbwMytpBPYoieAwBcjAl5eDDTWvgClXuhMGLast9XjUUtqXZqPu3TdBw7fbm5HJHroT3kJvpKEzXGJK0MJz" +
        "iUKRkgNwGefh7mv20tj4ydg/j2FdfrGxXW85JP2g4AWH4cx0fMxmBS0guJZQ1xEyzH26KlL1Vzr3gThNEP3Ws3B9tS2OMCM6KYua" +
        "d0g9XPgqdIQh892RzvmgYbcyXaGboKzC2fBZovHZpainNN3atfRb1fp0KAAW8yApiLQ2qGK42Q74xr9veHc+oHTGk0LvG3nsgjx5" +
        "GQFwo00gK/y1y9GS1rk8LInrCmhw75iW+Q9ddNseSyAXAARJQ7gqc54G3TGYrReDJra6askcLekxV+EYeq7C0qwwTTU+jAalGncc" +
        "k9bGSXEIMlAhi3Rs9M3DYmZVnNEYv2p32B++rO+k/cXcyuLg"
      val lr256 =
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAUNtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAOGlsb2MBAAAAREAAAgABAAEAAAAAAAAAAQAAAAAAAAAIAAIAAAAAAAAAAAABAAABZwAAAVYAAAA4aWlu" +
        "ZgAAAAAAAgAAABVpbmZlAgAAAAABAABncmlkAAAAABVpbmZlAgAAAQACAABhdjAxAAAAAG5pcHJwAAAATGlwY28AAAAUaXNwZQAA" +
        "AAAAAAEAAAABAAAAABBwaXhpAAAAAAMICAgAAAAMYXYxQ4EEDAAAAAAUaXNwZQAAAAAAAAEAAAABAAAAABppcG1hAAAAAAAAAAIA" +
        "AQKBggACAoOEAAAAGmlyZWYAAAAAAAAADmRpbWcAAQABAAIAAAAQaWRhdAAAAAABAAEAAAABXm1kYXQSAAoLAAAAA7//+bXzAIAy" +
        "xAIQAJQAQwiCCjpLCgJC9gfzs2miMwB4U09l5ZKP+YmoBOsvwcDQpqSLCCGQUE2R9zMPDRcZyShOiVOPiYAAvfCg7zzBAEObUkmE" +
        "BR9IgCmgkMFDbsM+sWZtKylq/rUzpCtK/UM0Aq8gNnI3aeT1ZVfdI9raynOZPvMTFyjuWpzrr6ID1hXdsL5i2EBscFx/wsKM3lgS" +
        "cb8IrjqRilUVp7HyjeKiYDOzUciCtb0nN6AN6iGG4iI3gunZsxJnfWi8Tcj0BNQRYbjJmC1sgWViFjGtPQusFxLCs2NUB6+hgDEV" +
        "/K1Y58DANHQ9/AZQjWesuhva9dw0+aGV92qWY4k6L6diHnhx/rne5jgO3xBu2CIPDvW9j5w7ZS68fMGcqh+TOH07ox/WT6Od8iEl" +
        "m+3BCXiyVZyaXeCg1bJF2EmVfKVo1GiiFT4="
      val cdef100 =
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAUNtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAOGlsb2MBAAAAREAAAgABAAEAAAAAAAAAAQAAAAAAAAAIAAIAAAAAAAAAAAABAAABZwAAAIoAAAA4aWlu" +
        "ZgAAAAAAAgAAABVpbmZlAgAAAAABAABncmlkAAAAABVpbmZlAgAAAQACAABhdjAxAAAAAG5pcHJwAAAATGlwY28AAAAUaXNwZQAA" +
        "AAAAAABkAAAAJAAAABBwaXhpAAAAAAMICAgAAAAMYXYxQ4EEDAAAAAAUaXNwZQAAAAAAAABkAAAAJAAAABppcG1hAAAAAAAAAAIA" +
        "AQKBggACAoOEAAAAGmlyZWYAAAAAAAAADmRpbWcAAQABAAIAAAAQaWRhdAAAAAAAZAAkAAAAkm1kYXQSAAoKAAAAAy44za+QBDJ6" +
        "EACyAIICBBZddLTX+t+9rom9vGK7xG+VHYgLMaN6Xa917wZfvA4LyxBNwT7Din8WzYiPxtHCv0ToxnNF8iVsiJpKlhzF1IVizN2W" +
        "wvT9f1nHEzw6MtcCrSX7FrlhFudDhD/rrQ3iFvDV86zlaTCWAi38IjY9/Nc7lrg="
      val hbd64 =
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAANhtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAJGlsb2MBAAAAREAAAQABAAAAAAAAAAAAAQAAAPwAAACeAAAAI2lpbmYAAAAAAAEAAAAVaW5mZQIAAAEA" +
        "AQAAYXYwMQAAAABWaXBycAAAADhpcGNvAAAAFGlzcGUAAAAAAAAAQAAAADAAAAAQcGl4aQAAAAADCgoKAAAADGF2MUOBBEwAAAAA" +
        "FmlwbWEAAAAAAAAAAQABA4GCgwAAAKZtZGF0EgAKCgAAAAKv95//CAgyjQEQALwAkkIIKNf/OTGdI5BiU1eIxrs16yUeWH/mXHcI" +
        "jYWS6RNv+dsvMt+IrS775D6IqHWtaKDcLXCUtIP/yJ61DDDB+EMy60mz8lEFPesZ+2LkXf036T6jTNvAE3tMRfzKWIKHrcyYjIBX" +
        "oj/4mN7dK+KWlWazK247HuaVX2X4xnF9M3GHeM3lKLOmBGA="
      val c444 =
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAANhtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAJGlsb2MBAAAAREAAAQABAAAAAAAAAAAAAQAAAPwAAACoAAAAI2lpbmYAAAAAAAEAAAAVaW5mZQIAAAEA" +
        "AQAAYXYwMQAAAABWaXBycAAAADhpcGNvAAAAFGlzcGUAAAAAAAAAQAAAADAAAAAQcGl4aQAAAAADCAgIAAAADGF2MUOBJAAAAAAA" +
        "FmlwbWEAAAAAAAAAAQABA4GCgwAAALBtZGF0EgAKCiAAAAKv95//AEAylwEQALwAUUIIKNgtJ0cg/Ygxnt0mu0ckql/qNuywpADc" +
        "IN5jExTRH0frN54Trs6bLBHU4bNLpS6biKUwp3cwwbD9O92qJ/9PuLzd10VqPV2yFE94690WRkvMoiKHu/J10SpFaOj97wrP4A8f" +
        "mPNl/WeP/IEJcaqA1fdVYeSbkzmJ3Yz5jplKiOuNVmBy6T7Hcg4zXdhj5BgM"
      val rows = Seq(("avif_rgb_64x48", rgb64), ("avif_alpha_48x48", alpha48),
        ("avif_odd_33x17", odd33), ("avif_grid_100x90", grid100),
        ("avif_lr_256", lr256), ("avif_cdef_100x36", cdef100),
        ("avif_hbd_64x48", hbd64), ("avif_444_64x48", c444),
        ("heic_bait", heicBait), ("truncated", grid100.substring(0, 120)))
      s.createDataset(rows).repartition(rows.size)
        .map { case (name, b64) =>
          try {
            val d = graft.sources.Heif.decodePrimary(java.util.Base64.getDecoder.decode(b64))
            def q(fx: Int, fy: Int): Long =
              d.rgb((fy * d.height / 4) * d.width + fx * d.width / 4).toLong & 0xffffffffL
            (name, d.width, d.height, d.hasAlpha, q(1, 1), q(3, 1), q(1, 3), q(3, 3), "ok")
          } catch {
            case scala.util.control.NonFatal(e) =>
              val why = if (e.getMessage != null && e.getMessage.contains("hvc1")) "refused:hevc" else "refused"
              (name, -1, -1, false, 0L, 0L, 0L, 0L, why)
          }
        }
        .toDF("name", "width", "height", "alpha", "q1", "q2", "q3", "q4", "status")
        .orderBy("name")
    },
    Some("""
      SELECT * FROM (VALUES
        ('avif_444_64x48', 64, 48, false, 4287528811, 4284641878, 4289568171, 4286746516, 'ok'),
        ('avif_alpha_48x48', 48, 48, true, 3894629314, 2594599563, 2964651957, 3981181029, 'ok'),
        ('avif_cdef_100x36', 100, 36, false, 4283981665, 4294967295, 4286677920, 4279763484, 'ok'),
        ('avif_grid_100x90', 100, 90, false, 4294836224, 4278255361, 4278190335, 4294967040, 'ok'),
        ('avif_hbd_64x48', 64, 48, false, 4287135337, 4284772944, 4289371306, 4286418831, 'ok'),
        ('avif_lr_256', 256, 256, false, 4287200614, 4284445265, 4289371560, 4286680207, 'ok'),
        ('avif_odd_33x17', 33, 17, false, 4285344568, 4283915629, 4278203136, 4287664497, 'ok'),
        ('avif_rgb_64x48', 64, 48, false, 4289272749, 4288836451, 4294955704, 4282122817, 'ok'),
        ('heic_bait', -1, -1, false, 0, 0, 0, 0, 'refused:hevc'),
        ('truncated', -1, -1, false, 0, 0, 0, 0, 'refused')
      ) AS t(name, width, height, alpha, q1, q2, q3, q4, status)
      ORDER BY name
    """.trim)
  )

  /** AVIF → PDQ end-to-end gate: six hand-muxed grid AVIFs (LOSSLESS
    * libaom flat tiles at planted YUV colors, varied grid shapes incl.
    * cropped outputs) decode through the full container+AV1 path into
    * [[Media.pdqHashes]]; the DuckDB oracle re-synthesizes every pixel
    * from the planted-color formula (lossless tiles round-trip exactly)
    * through the engine-documented BT.601 transform and the shared
    * PDQ SQL replay — one flipped bit anywhere in iloc walking, grid
    * composition, AV1 reconstruction or the hash chain fails the gate. */
  val mediaAvifPdq: QueryDef = QueryDef(
    "media_avif_pdq",
    (s, dir) => {
      import s.implicits._
      val blobs = Seq(
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAdNtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAdGlsb2MBAAAAREAABQABAAEAAAAAAAAAAQAAAAAAAAAIAAIAAAAAAAAAAAABAAAB9wAAACYAAwAAAAAA" +
        "AAAAAAEAAAIdAAAAJQAEAAAAAAAAAAAAAQAAAkIAAAAmAAUAAAAAAAAAAAABAAACaAAAACQAAAB3aWluZgAAAAAABQAAABVpbmZl" +
        "AgAAAAABAABncmlkAAAAABVpbmZlAgAAAQACAABhdjAxAAAAABVpbmZlAgAAAQADAABhdjAxAAAAABVpbmZlAgAAAQAEAABhdjAx" +
        "AAAAABVpbmZlAgAAAQAFAABhdjAxAAAAAH1pcHJwAAAATGlwY28AAAAUaXNwZQAAAAAAAACAAAAAYAAAABBwaXhpAAAAAAMICAgA" +
        "AAAMYXYxQ4EEDAAAAAAUaXNwZQAAAAAAAABAAAAAMAAAAClpcG1hAAAAAAAAAAUAAQKBggACAoOEAAMCg4QABAKDhAAFAoOEAAAA" +
        "IGlyZWYAAAAAAAAAFGRpbWcAAQAEAAIAAwAEAAUAAAAQaWRhdAAAAQEAgABgAAAAnW1kYXQSAAoKAAAAAq/3r/8QCDIWEACAAABL" +
        "F8QEWq/g05nbMl6Y0tO4lxIACgoAAAACr/ev/xAIMhUQAIAAAEsXzCYGv4NOYHDlemNJZ3kSAAoKAAAAAq/3r/8QCDIWEACAAABL" +
        "F9j5Cv4NOjVAXpjSSl2RQBIACgoAAAACr/ev/xAIMhQQAIAAAEsCNdj5zM3kK9FCwpQsfg==",
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAdNtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAdGlsb2MBAAAAREAABQABAAEAAAAAAAAAAQAAAAAAAAAIAAIAAAAAAAAAAAABAAAB9wAAACYAAwAAAAAA" +
        "AAAAAAEAAAIdAAAAJQAEAAAAAAAAAAAAAQAAAkIAAAAmAAUAAAAAAAAAAAABAAACaAAAACcAAAB3aWluZgAAAAAABQAAABVpbmZl" +
        "AgAAAAABAABncmlkAAAAABVpbmZlAgAAAQACAABhdjAxAAAAABVpbmZlAgAAAQADAABhdjAxAAAAABVpbmZlAgAAAQAEAABhdjAx" +
        "AAAAABVpbmZlAgAAAQAFAABhdjAxAAAAAH1pcHJwAAAATGlwY28AAAAUaXNwZQAAAAAAAABkAAAAWgAAABBwaXhpAAAAAAMICAgA" +
        "AAAMYXYxQ4EEDAAAAAAUaXNwZQAAAAAAAABAAAAAMAAAAClpcG1hAAAAAAAAAAUAAQKBggACAoOEAAMCg4QABAKDhAAFAoOEAAAA" +
        "IGlyZWYAAAAAAAAAFGRpbWcAAQAEAAIAAwAEAAUAAAAQaWRhdAAAAQEAZABaAAAAoG1kYXQSAAoKAAAAAq/3r/8QCDIWEACAAABL" +
        "F8g4yr+DTnSW9emNJKtRZBIACgoAAAACr/ev/xAIMhUQAIAAAEsX57psFakCj5esqqmp5BQSAAoKAAAAAq/3r/8QCDIWEACAAABL" +
        "D+TOLBWoEzIvrtm5XHSNcBIACgoAAAACr/ev/xAIMhcQAIAAAEsPyaMmwVqBK5kwu2blcUHMwA==",
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAjNtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAnGlsb2MBAAAAREAABwABAAEAAAAAAAAAAQAAAAAAAAAIAAIAAAAAAAAAAAABAAACVwAAACMAAwAAAAAA" +
        "AAAAAAEAAAJ6AAAAJQAEAAAAAAAAAAAAAQAAAp8AAAAlAAUAAAAAAAAAAAABAAACxAAAACIABgAAAAAAAAAAAAEAAALmAAAAJQAH" +
        "AAAAAAAAAAAAAQAAAwsAAAAkAAAAoWlpbmYAAAAAAAcAAAAVaW5mZQIAAAAAAQAAZ3JpZAAAAAAVaW5mZQIAAAEAAgAAYXYwMQAA" +
        "AAAVaW5mZQIAAAEAAwAAYXYwMQAAAAAVaW5mZQIAAAEABAAAYXYwMQAAAAAVaW5mZQIAAAEABQAAYXYwMQAAAAAVaW5mZQIAAAEA" +
        "BgAAYXYwMQAAAAAVaW5mZQIAAAEABwAAYXYwMQAAAACHaXBycAAAAExpcGNvAAAAFGlzcGUAAAAAAAAAQAAAAGAAAAAQcGl4aQAA" +
        "AAADCAgIAAAADGF2MUOBBAwAAAAAFGlzcGUAAAAAAAAAIAAAACAAAAAzaXBtYQAAAAAAAAAHAAECgYIAAgKDhAADAoOEAAQCg4QA" +
        "BQKDhAAGAoOEAAcCg4QAAAAkaXJlZgAAAAAAAAAYZGltZwABAAYAAgADAAQABQAGAAcAAAAQaWRhdAAAAgEAQABgAAAA4G1kYXQS" +
        "AAoKAAAAAif+v/xAIDITEACAAABGey8s7dxCg/JiZYkigBIACgoAAAACJ/6//EAgMhUQAIAAAEcg01xz5mrcaIpv6R8lnXASAAoK" +
        "AAAAAif+v/xAIDIVEACAAABHIMh5jvmatn5Dxv6SAzZQEgAKCgAAAAIn/r/8QCAyEhAAgAAxyXHxUp6DwoUexuK7gBIACgoAAAAC" +
        "J/6//EAgMhUQAIAAAEcoN9pqteSSd2gGOZo4z1wSAAoKAAAAAif+v/xAIDIUEACAAABHKDZPDjXkbb2m5OprvK0=",
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAjNtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAAnGlsb2MBAAAAREAABwABAAEAAAAAAAAAAQAAAAAAAAAIAAIAAAAAAAAAAAABAAACVwAAACUAAwAAAAAA" +
        "AAAAAAEAAAJ8AAAAJQAEAAAAAAAAAAAAAQAAAqEAAAAlAAUAAAAAAAAAAAABAAACxgAAACUABgAAAAAAAAAAAAEAAALrAAAAJQAH" +
        "AAAAAAAAAAAAAQAAAxAAAAAlAAAAoWlpbmYAAAAAAAcAAAAVaW5mZQIAAAAAAQAAZ3JpZAAAAAAVaW5mZQIAAAEAAgAAYXYwMQAA" +
        "AAAVaW5mZQIAAAEAAwAAYXYwMQAAAAAVaW5mZQIAAAEABAAAYXYwMQAAAAAVaW5mZQIAAAEABQAAYXYwMQAAAAAVaW5mZQIAAAEA" +
        "BgAAYXYwMQAAAAAVaW5mZQIAAAEABwAAYXYwMQAAAACHaXBycAAAAExpcGNvAAAAFGlzcGUAAAAAAAAAYAAAAEAAAAAQcGl4aQAA" +
        "AAADCAgIAAAADGF2MUOBBAwAAAAAFGlzcGUAAAAAAAAAIAAAACAAAAAzaXBtYQAAAAAAAAAHAAECgYIAAgKDhAADAoOEAAQCg4QA" +
        "BQKDhAAGAoOEAAcCg4QAAAAkaXJlZgAAAAAAAAAYZGltZwABAAYAAgADAAQABQAGAAcAAAAQaWRhdAAAAQIAYABAAAAA5m1kYXQS" +
        "AAoKAAAAAif+v/xAIDIVEACAAABHIMYe+vmatlk55v6SCvbAEgAKCgAAAAIn/r/8QCAyFRAAgAAARyDMAWz5m1AH1YZaBJo78BIA" +
        "CgoAAAACJ/6//EAgMhUQAIAAAEcoOHiPteSSVhF5jmaPA2ESAAoKAAAAAif+v/xAIDIVEACAAABHKDbtMzXkkrRVGOZo3DpMEgAK" +
        "CgAAAAIn/r/8QCAyFRAAgAAARyg/h1rXkarWxm5OpuD3cBIACgoAAAACJ/6//EAgMhUQAIAAAEcoT2ejXkalkqQbk77uJSQ=",
        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAXNtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAATGlsb2MBAAAAREAAAwABAAEAAAAAAAAAAQAAAAAAAAAIAAIAAAAAAAAAAAABAAABlwAAACcAAwAAAAAA" +
        "AAAAAAEAAAG+AAAAJwAAAE1paW5mAAAAAAADAAAAFWluZmUCAAAAAAEAAGdyaWQAAAAAFWluZmUCAAABAAIAAGF2MDEAAAAAFWlu" +
        "ZmUCAAABAAMAAGF2MDEAAAAAc2lwcnAAAABMaXBjbwAAABRpc3BlAAAAAAAAAIAAAABAAAAAEHBpeGkAAAAAAwgICAAAAAxhdjFD" +
        "gQQMAAAAABRpc3BlAAAAAAAAAEAAAABAAAAAH2lwbWEAAAAAAAAAAwABAoGCAAICg4QAAwKDhAAAABxpcmVmAAAAAAAAABBkaW1n" +
        "AAEAAgACAAMAAAAQaWRhdAAAAAEAgABAAAAAVm1kYXQSAAoKAAAAAq//r/8QCDIXEACAAABLD8YJ1rWvHUg7qy+swVP/InwSAAoK" +
        "AAAAAq//r/8QCDIXEACAAABLF8T/qbUyGTUiwr6tU1AZqhA=",

        "AAAAHGZ0eXBhdmlmAAAAAGF2aWZtaWYxbWlhZgAAAXNtZXRhAAAAAAAAACFoZGxyAAAAAAAAAABwaWN0AAAAAAAAAAAAAAAAAAAA" +
        "AA5waXRtAAAAAAABAAAATGlsb2MBAAAAREAAAwABAAEAAAAAAAAAAQAAAAAAAAAIAAIAAAAAAAAAAAABAAABlwAAACcAAwAAAAAA" +
        "AAAAAAEAAAG+AAAAJgAAAE1paW5mAAAAAAADAAAAFWluZmUCAAAAAAEAAGdyaWQAAAAAFWluZmUCAAABAAIAAGF2MDEAAAAAFWlu" +
        "ZmUCAAABAAMAAGF2MDEAAAAAc2lwcnAAAABMaXBjbwAAABRpc3BlAAAAAAAAAEAAAACAAAAAEHBpeGkAAAAAAwgICAAAAAxhdjFD" +
        "gQQMAAAAABRpc3BlAAAAAAAAAEAAAABAAAAAH2lwbWEAAAAAAAAAAwABAoGCAAICg4QAAwKDhAAAABxpcmVmAAAAAAAAABBkaW1n" +
        "AAEAAgACAAMAAAAQaWRhdAAAAQAAQACAAAAAVW1kYXQSAAoKAAAAAq//r/8QCDIXEACAAABLF8QEWrUyGTuOuvq1TuVmMUASAAoK" +
        "AAAAAq//r/8QCDIWEACAAABLF8wmBtTIWzb3L7h5zEWdyA==")
      val items = s.createDataset(blobs.zipWithIndex)
        .repartition(blobs.size)
        .map { case (b, i) =>
          Media.MediaItem(i.toLong, "avif", java.util.Base64.getDecoder.decode(b))
        }
      Media.pdqHashes(items, Media.autoPixelDecoder)
        .toDF("id", "pdq_hex", "quality")
        .orderBy("id")
    },
    Some(s"""
      WITH grids AS (SELECT * FROM (VALUES
          (0, 2, 2, 64, 48, 128, 96), (1, 2, 2, 64, 48, 100, 90),
          (2, 3, 2, 32, 32, 64, 96), (3, 2, 3, 32, 32, 96, 64),
          (4, 1, 2, 64, 64, 128, 64), (5, 2, 1, 64, 64, 64, 128)
        ) g(id, nr, nc, tw, th, w, h)),
      tix AS (SELECT unnest(generate_series(0, 5)) AS ti),
      tiles AS (
        SELECT g.id, t.ti,
          (30 + g.id * 40 + t.ti * 25) % 200 + 20 AS yv,
          (g.id * 70 + t.ti * 50) % 256 AS uv,
          (g.id * 90 + t.ti * 35 + 100) % 256 AS vv
        FROM grids g JOIN tix t ON t.ti < g.nr * g.nc),
      trgb AS (
        SELECT id, ti,
          LEAST(255, GREATEST(0, ((yv * 19077) // 256 + (vv * 26149) // 256 - 14234) // 64)) AS r,
          LEAST(255, GREATEST(0, ((yv * 19077) // 256 - (uv * 6419) // 256 - (vv * 13320) // 256 + 8708) // 64)) AS gg,
          LEAST(255, GREATEST(0, ((yv * 19077) // 256 + (uv * 33050) // 256 - 17685) // 64)) AS b
        FROM tiles),
      tl AS (SELECT id, ti, (299 * r + 587 * gg + 114 * b) // 1000 AS l FROM trgb),
      axis AS (SELECT unnest(generate_series(0, 127)) AS v),
      pix AS (
        SELECT g.id, x.v AS x, y.v AS y, g.w, g.h, tl.l
        FROM grids g
        JOIN axis x ON x.v < g.w
        JOIN axis y ON y.v < g.h
        JOIN tl ON tl.id = g.id AND tl.ti = (y.v // g.th) * g.nc + (x.v // g.tw)),
      $pdqChainCtes
      SELECT h.id, h.pdq_hex, g2.quality
      FROM hexs h JOIN grad g2 ON g2.id = h.id
      ORDER BY h.id
    """.trim)
  )

  /** 7z extraction gate ([[graft.sources.SevenZ]]): a RUNTIME golden —
    * each task writes a REAL .7z with commons-compress's
    * SevenZOutputFile (Spark classpath; LZMA/LZMA2 via xz-java) over
    * deterministic entries in one of five coder configs, then extracts
    * with the from-scratch reader; the oracle replays the entry
    * DEFINITIONS. A truncated archive must refuse. */
  val archive7z: QueryDef = QueryDef(
    "archive_7z",
    (s, dir) => {
      import s.implicits._
      val configs = Seq("lzma2", "lzma", "copy", "bzip2", "deflate", "corrupt")
      s.createDataset(configs).repartition(configs.size)
        .flatMap { cfg =>
          import org.apache.commons.compress.archivers.sevenz.{SevenZArchiveEntry, SevenZMethod, SevenZOutputFile}
          val soup = new String(GateEnc.lcgWords(40), "US-ASCII")
          val entries = Seq(
            ("docs/a.txt", s"alpha doc: $soup"),
            ("docs/b.txt", s"beta doc: ${soup.reverse}"),
            ("c.txt", "gamma"))
          val tmp = java.io.File.createTempFile("seven_gate", ".7z")
          try {
            val method = cfg match {
              case "lzma" => SevenZMethod.LZMA
              case "copy" => SevenZMethod.COPY
              case "bzip2" => SevenZMethod.BZIP2
              case "deflate" => SevenZMethod.DEFLATE
              case _ => SevenZMethod.LZMA2
            }
            val w = new SevenZOutputFile(tmp)
            w.setContentCompression(method)
            for ((n, text) <- entries) {
              val e = new SevenZArchiveEntry(); e.setName(n)
              w.putArchiveEntry(e); w.write(text.getBytes("US-ASCII")); w.closeArchiveEntry()
            }
            w.close()
            var bytes = java.nio.file.Files.readAllBytes(tmp.toPath)
            if (cfg == "corrupt") bytes = java.util.Arrays.copyOf(bytes, bytes.length / 2)
            graft.sources.SevenZ.extract(bytes).map { case (n, b) =>
              val md = java.security.MessageDigest.getInstance("MD5").digest(b)
              (cfg, n, md.map("%02x".format(_)).mkString, "ok")
            }
          } catch {
            case scala.util.control.NonFatal(_) => Seq((cfg, "", "", "refused"))
          } finally tmp.delete()
        }
        .toDF("config", "entry", "payload_md5", "status")
        .orderBy("config", "entry")
    },
    Some {
      val soup = "epsilon eta iota delta epsilon eta kappa alpha eta zeta epsilon alpha " +
        "gamma epsilon iota kappa alpha kappa kappa epsilon kappa iota epsilon zeta " +
        "alpha theta eta gamma gamma zeta epsilon eta iota iota eta gamma delta alpha theta delta"
      s"""
      WITH e AS (
        SELECT 'docs/a.txt' AS entry, md5('alpha doc: ' || '$soup') AS payload_md5
        UNION ALL SELECT 'docs/b.txt', md5('beta doc: ' || reverse('$soup'))
        UNION ALL SELECT 'c.txt', md5('gamma'))
      SELECT config, entry, payload_md5, 'ok' AS status
      FROM (VALUES ('bzip2'), ('copy'), ('deflate'), ('lzma'), ('lzma2')) AS c(config)
      CROSS JOIN e
      UNION ALL SELECT 'corrupt', '', '', 'refused'
      ORDER BY config, entry
      """.trim
    }
  )

  /** Package-container gate ([[graft.sources.Packages]]): RUNTIME
    * golden — each task writes a REAL archive with commons-compress
    * (an ar-shelled `.deb` whose data member recurses through the
    * wrapper sniff, plus the three cpio variants), extracts with the
    * from-scratch readers; the oracle replays the entry definitions.
    * A truncated cpio must refuse. */
  val archivePkg: QueryDef = QueryDef(
    "archive_pkg",
    (s, dir) => {
      import s.implicits._
      val configs = Seq("deb", "cpio_newc", "cpio_crc", "cpio_odc", "rpm", "rpm_zstd", "corrupt")
      s.createDataset(configs).repartition(configs.size)
        .flatMap { cfg =>
          import org.apache.commons.compress.archivers.ar.{ArArchiveEntry, ArArchiveOutputStream}
          import org.apache.commons.compress.archivers.cpio.{CpioArchiveEntry, CpioArchiveOutputStream, CpioConstants}
          val soup = new String(GateEnc.lcgWords(30), "US-ASCII")
          val files = Seq(("docs/one.txt", s"pkg one: $soup"), ("two.txt", "pkg two"))
          try {
            cfg match {
              case "deb" =>
                val data = graft.sources.Archives.encodeTar(
                  files.map { case (n, t) => (n, t.getBytes("US-ASCII")) })
                val bo = new java.io.ByteArrayOutputStream()
                val w = new ArArchiveOutputStream(bo)
                for ((n, d) <- Seq(
                  ("debian-binary", "2.0\n".getBytes("US-ASCII")),
                  ("data.tar.zst", graft.sources.Zstd.encodeRawFrames(data)))) {
                  w.putArchiveEntry(new ArArchiveEntry(n, d.length)); w.write(d); w.closeArchiveEntry()
                }
                w.close()
                val outer = graft.sources.Archives.autoEntries(bo.toByteArray)
                val inner = graft.sources.Archives.autoEntries(
                  outer.find(_._1 == "data.tar.zst").get._2)
                inner.map { case (n, b) =>
                  val md = java.security.MessageDigest.getInstance("MD5").digest(b)
                  (cfg, n, md.map("%02x".format(_)).mkString, "ok")
                }
              case c if c.startsWith("cpio") || c.startsWith("rpm") || c == "corrupt" =>
                val fmt = c match {
                  case "cpio_crc" => CpioConstants.FORMAT_NEW_CRC
                  case "cpio_odc" => CpioConstants.FORMAT_OLD_ASCII
                  case _ => CpioConstants.FORMAT_NEW
                }
                val bo = new java.io.ByteArrayOutputStream()
                val w = new CpioArchiveOutputStream(bo, fmt)
                for ((n, t) <- files) {
                  val d = t.getBytes("US-ASCII")
                  val e = new CpioArchiveEntry(fmt, n, d.length)
                  if (fmt == CpioConstants.FORMAT_NEW_CRC)
                    e.setChksum(d.map(_ & 0xffL).sum & 0xffffffffL)
                  w.putArchiveEntry(e); w.write(d); w.closeArchiveEntry()
                }
                w.close()
                var bytes = bo.toByteArray
                if (c == "corrupt") bytes = java.util.Arrays.copyOf(bytes, 90)
                val entries2 =
                  if (c.startsWith("rpm")) {
                    // rpm outer framing: lead + sig/main headers + gzip or
                    // zstd cpio payload, then the full rpm->cpio->text walk
                    val comp = if (c == "rpm_zstd") "zstd" else "gzip"
                    val rpm = graft.sources.Packages.encodeRpm("graft-demo-1.0", bytes, comp)
                    graft.sources.Packages.rpmEntries(rpm)
                  } else graft.sources.Packages.cpioEntries(bytes)
                entries2.map { case (n, b) =>
                  val md = java.security.MessageDigest.getInstance("MD5").digest(b)
                  (cfg, n, md.map("%02x".format(_)).mkString, "ok")
                }
            }
          } catch {
            case scala.util.control.NonFatal(_) => Seq((cfg, "", "", "refused"))
          }
        }
        .toDF("config", "entry", "payload_md5", "status")
        .orderBy("config", "entry")
    },
    Some {
      val soup = "epsilon eta iota delta epsilon eta kappa alpha eta zeta epsilon alpha " +
        "gamma epsilon iota kappa alpha kappa kappa epsilon kappa iota epsilon zeta " +
        "alpha theta eta gamma gamma zeta"
      s"""
      WITH e AS (
        SELECT 'docs/one.txt' AS entry, md5('pkg one: ' || '$soup') AS payload_md5
        UNION ALL SELECT 'two.txt', md5('pkg two'))
      SELECT config, entry, payload_md5, 'ok' AS status
      FROM (VALUES ('cpio_crc'), ('cpio_newc'), ('cpio_odc'), ('deb'), ('rpm'), ('rpm_zstd')) AS c(config)
      CROSS JOIN e
      UNION ALL SELECT 'corrupt', '', '', 'refused'
      ORDER BY config, entry
      """.trim
    }
  )

  /** .Z (Unix compress, LZW) decode gate ([[graft.sources.LzwZ]]):
    * embedded fixtures proven valid by system-`uncompress` round trips
    * at generation time (`tools/gen_lzw_z_fixtures.py`), pinned to
    * their payload definitions; a bad-maxbits header must refuse. */
  val lzwZDecode: QueryDef = QueryDef(
    "lzw_z_decode",
    (s, dir) => {
      import s.implicits._
      val fx = Seq(
        ("small_text",
          "H52QdNCUARGnTpoxa0CIkfPmjhsQZt7gAaGmThs4c0C8sVNGDoiAA9mE0ZMHBJk3Z1x8FEjQIEKFDB1ClEjRIkaNHD2CBCGSpEmU" +
          "KncWPJhwYcOHESdWvJhxY8eVIUeWPJkSakuiMI/OVGqzaU6rPacCtTr0pVGZSWsyxfl0Z9ifVYW6LBoTKc2lN53qZPmWalCWZelq" +
          "TYvXa1u+UuH+HRg4K9q7XdnujerTL9m5ju1yXasXbGLLcrGe1aw271e3n8eGNlt3a2nDk3mmjgsY82jXhSV7rqy6tujWhCN3Rs2b" +
          "NmPbwCFzPo24+OKrrAcrN32Ysljj0AU/3kw9dt/ex39L5w579/XnjW8HX15dtvPL4re/1k38PPzo8nMPb24f",
          900L, "d6cefcbcdc9f8101531523095a3eaa96"),
        ("runs",
          "H52QegIKHEiwoMGDCBMqXMiwocOHECNKnEixosWLGDNq3Mixo8ePIEOKHEmypMmTKFOqXMmypcuXMGPKnEmzps2bOHPq3Mmzp8+f" +
          "QIMKHUq0qNGjSJMqXcq0qdOnUKNKnUq1qtWrWLNq3cq1q9evYMOKHUu2rNmzaNOqXcu2rdu3cOPKnUu3rt27ePPq3cu3r9+/gAML" +
          "Hky4sOHDiBMrXsy4sePHkCNLnky5suXLmDNr3sy5s+fPoEOLHk26tOnTqFOrXs26tevXsGPLnk27tu3buHPr3s27t+/fwIMLH068" +
          "uPHjyJMrX868ufPn0KNLn069uvXr2LNr3869u/fv4MOLH0++vPnz6NOrX8++vfv38OPLn0+/vv37+PPr38+/v///AAYo4IAEFmjg" +
          "gQgmqOCCDDbo4IMQRijhhBRWaOGFGGao4YYcdujhhyCGKOKIJJZo4okopqjiiiy26OKLMMYo44w01mjjjTjmqOOOPPbo449ABink" +
          "kEQWaeSRSCap5JJMNunkk1BGKeWUVFZp5ZVYZqnlllx26eWXYIYp5phklmnmmWimqeaabLbp5ptwxinnnHTWaeedeOap55589unn" +
          "n4AGKuighBZq6KGIJqrooow26uijkEYq6aSUVmrppZhmqummnHbq6aeghirqqKSWauqpqKaq6qqsturqq7DGKuustNZq66245qrr" +
          "rrz26iM=",
          100000L, "c8a63b8dc8a30221a1fa4804e6dcd9bf"),
        ("tiny", "H52QYQA=", 1L, "0cc175b9c0f1b6a831c399e269772661"),
        ("empty", "H52Q", 0L, "d41d8cd98f00b204e9800998ecf8427e"))
      val rows = fx.map { case (n, b64, _, _) => (n, b64) } :+
        (("bad_maxbits", java.util.Base64.getEncoder.encodeToString(Array[Byte](0x1f, 0x9d.toByte, 0x88.toByte, 0x41))))
      s.createDataset(rows).repartition(rows.size)
        .map { case (name, b64) =>
          try {
            val d = graft.sources.LzwZ.decompress(java.util.Base64.getDecoder.decode(b64))
            val md = java.security.MessageDigest.getInstance("MD5").digest(d)
            (name, d.length.toLong, md.map("%02x".format(_)).mkString, "ok")
          } catch {
            case scala.util.control.NonFatal(_) => (name, -1L, "", "refused")
          }
        }
        .toDF("name", "n_bytes", "payload_md5", "status")
        .orderBy("name")
    },
    Some("""
      SELECT * FROM (VALUES
        ('bad_maxbits', CAST(-1 AS BIGINT), '', 'refused'),
        ('empty', CAST(0 AS BIGINT), 'd41d8cd98f00b204e9800998ecf8427e', 'ok'),
        ('runs', CAST(100000 AS BIGINT), 'c8a63b8dc8a30221a1fa4804e6dcd9bf', 'ok'),
        ('small_text', CAST(900 AS BIGINT), 'd6cefcbcdc9f8101531523095a3eaa96', 'ok'),
        ('tiny', CAST(1 AS BIGINT), '0cc175b9c0f1b6a831c399e269772661', 'ok')
      ) AS t(name, n_bytes, payload_md5, status)
      ORDER BY name
    """.trim)
  )

  /** Hadoop SequenceFile ingest gate ([[graft.sources.SequenceFiles]]):
    * a RUNTIME golden like `snappy_decode` — each task writes a REAL
    * SequenceFile with the Hadoop writer on the executor classpath
    * (none/record/block compression × Default/Gzip/BZip2/Snappy/Lz4
    * codecs) over deterministic Text records, then parses it with the
    * from-scratch reader; the oracle replays the record DEFINITIONS
    * (generate_series + the pinned soup literal). Covers the
    * randomized-bzip2-block path end to end (the value-lengths buffer
    * is the writer's randomization trigger). */
  val seqfileIngest: QueryDef = QueryDef(
    "seqfile_ingest",
    (s, dir) => {
      import s.implicits._
      val configs = Seq("none", "record-default", "record-gzip", "record-bzip2",
        "record-snappy", "record-lz4", "block-default", "block-gzip", "block-bzip2",
        "block-snappy", "block-lz4")
      s.createDataset(configs).repartition(configs.size)
        .map { cfg =>
          import org.apache.hadoop.io.{SequenceFile => HSeq, Text}
          val soup = new String(GateEnc.lcgWords(40), "US-ASCII")
          val conf = new org.apache.hadoop.conf.Configuration()
          val tmp = java.io.File.createTempFile("seqgate", ".seq")
          tmp.delete()
          try {
            val Array(tpe, codecName) = if (cfg == "none") Array("none", "") else cfg.split("-")
            val ctype = tpe match {
              case "none" => HSeq.CompressionType.NONE
              case "record" => HSeq.CompressionType.RECORD
              case "block" => HSeq.CompressionType.BLOCK
            }
            val codec: org.apache.hadoop.io.compress.CompressionCodec = codecName match {
              case "" => null
              case "default" => new org.apache.hadoop.io.compress.DefaultCodec
              case "gzip" => new org.apache.hadoop.io.compress.GzipCodec
              case "bzip2" => new org.apache.hadoop.io.compress.BZip2Codec
              case "snappy" => new org.apache.hadoop.io.compress.SnappyCodec
              case "lz4" => new org.apache.hadoop.io.compress.Lz4Codec
            }
            val opts = Seq(
              HSeq.Writer.file(new org.apache.hadoop.fs.Path(tmp.getAbsolutePath)),
              HSeq.Writer.keyClass(classOf[Text]),
              HSeq.Writer.valueClass(classOf[Text])) ++
              (if (codec == null) Seq(HSeq.Writer.compression(ctype))
               else Seq(HSeq.Writer.compression(ctype, codec)))
            val w = HSeq.createWriter(conf, opts: _*)
            for (i <- 0 until 300)
              w.append(new Text(s"key-$i"), new Text(s"value $i: $soup #$i"))
            w.close()
            val bytes = java.nio.file.Files.readAllBytes(tmp.toPath)
            val recs = graft.sources.SequenceFiles.parse(1L, bytes)
            val keys = recs.map(r => graft.sources.SequenceFiles.decodeText(r.key)).mkString("|")
            val vals = recs.map(r => graft.sources.SequenceFiles.decodeText(r.value)).mkString("|")
            def md5s(x: String) = java.security.MessageDigest.getInstance("MD5")
              .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
            (cfg, recs.size.toLong, md5s(keys), md5s(vals), "ok")
          } catch {
            case scala.util.control.NonFatal(e) => (cfg, -1L, "", e.getClass.getSimpleName, "failed")
          } finally {
            tmp.delete()
            new java.io.File(tmp.getParent, "." + tmp.getName + ".crc").delete()
          }
        }
        .toDF("config", "n_records", "keys_md5", "values_md5", "status")
        .orderBy("config")
    },
    Some {
      val soup = "epsilon eta iota delta epsilon eta kappa alpha eta zeta epsilon alpha " +
        "gamma epsilon iota kappa alpha kappa kappa epsilon kappa iota epsilon zeta " +
        "alpha theta eta gamma gamma zeta epsilon eta iota iota eta gamma delta alpha theta delta"
      s"""
      WITH recs AS (
        SELECT i, 'key-' || i AS k, 'value ' || i || ': ' || '$soup' || ' #' || i AS v
        FROM generate_series(0, 299) AS t(i)),
      agg AS (
        SELECT md5(string_agg(k, '|' ORDER BY i)) AS keys_md5,
               md5(string_agg(v, '|' ORDER BY i)) AS values_md5
        FROM recs)
      SELECT config, CAST(300 AS BIGINT) AS n_records, keys_md5, values_md5, 'ok' AS status
      FROM (VALUES ('block-bzip2'), ('block-default'), ('block-gzip'), ('block-lz4'),
                   ('block-snappy'), ('none'), ('record-bzip2'), ('record-default'),
                   ('record-gzip'), ('record-lz4'), ('record-snappy')) AS c(config)
      CROSS JOIN agg
      ORDER BY config
      """.trim
    }
  )

  /** Wrapped-archive routing ([[graft.sources.Archives.autoEntries]]):
    * the same two-entry ustar under six wrappers — REAL system
    * tar.bz2 and tar.xz (embedded), runtime tar.zst (store frames),
    * tar.gz, tar.lz4 (store blocks) and tar.sz (framed snappy) —
    * must yield identical entry relations. */
  val archiveWrapped: QueryDef = QueryDef(
    "archive_wrapped",
    (s, dir) => {
      import s.implicits._
      val tarBz2 = "QlpoOTFBWSZTWR4NhbMAALN7kcoQQEBAAX8AACB2597ABAAABAAIIACSCVGSPUQ0Bpo9GUeo2gSSap6IyZGnoBMmQN/3FQchyZgAaKQCrjEgMGw5VZAmEIYRbq6UF6ysJTiXUYBXnMkMIcixeOSnasIGQ3S0EQUsFHow75LIrNDquM1m+n6kfeCRNf9JhAFa0kSOWowVLruZtU2PTsxzg3F3JFOFCQHg2Fsw"
      val tarXz = "/Td6WFoAAATm1rRGAgAhARYAAAB0L+Wj4Cf/AJxdADebiM9rZPoj+eQO2wIWgK/ecWsZfVe5bf0kcaADife5pXAQW31LRz0tIy5w3Mj9yl+BPk3JbL4Gb0stLzUB+Rr60tJ1hFYV0UdbEkf5zmLjvHg/OfCgaqJFiXrhQeHsQDu6ZbX3rpbk0cHwgcvPyKV7cd84R/oEKuGbVXWc4S0q1MPeUSXGudfpxu71iPSrFtgKvb5ste9cVsSJAAA3Lu6xy5aq3gABuAGAUAAA/vRJibHEZ/sCAAAAAARZWg=="
      val dec = java.util.Base64.getDecoder
      val innerTar = graft.sources.Bzip2.decompress(dec.decode(tarBz2))
      val files = Seq(
        graft.sources.Archives.ArchiveFile(1, dec.decode(tarBz2)),
        graft.sources.Archives.ArchiveFile(2, dec.decode(tarXz)),
        graft.sources.Archives.ArchiveFile(3, graft.sources.Zstd.encodeRawFrames(innerTar)),
        graft.sources.Archives.ArchiveFile(4, {
          val o = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(o)
          g.write(innerTar); g.close(); o.toByteArray
        }),
        graft.sources.Archives.ArchiveFile(5, graft.sources.Lz4.encodeRawFrame(innerTar)),
        graft.sources.Archives.ArchiveFile(6, graft.sources.Snappy.encodeFramed(innerTar))
      ).toDS().repartition(6)
      graft.sources.Archives.entries(files).toDF()
        .select(col("id"), col("entry"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("id", "entry")
    },
    Some("""
      SELECT id, entry, payload_md5 FROM (VALUES (1), (2), (3), (4), (5), (6)) AS w(id)
      CROSS JOIN (VALUES
        ('one.txt', '3c1f96f59cccaf67e88fd2fa1fc9a652'),
        ('two.txt', 'cbd265d54de958931f3f0c54226dc617')
      ) AS e(entry, payload_md5)
      ORDER BY id, entry
    """.trim)
  )

  /** The heterogeneous-dump shape: ONE text relation out of four
    * document formats — each document re-muxed as DOCX, PDF, ODT or
    * RFC 5322 email by id class and extracted through the matching
    * tier ([[graft.sources.Docx]]/[[graft.sources.Pdf]]/
    * [[graft.sources.Odt]]/[[graft.sources.Eml]]), unified with
    * format provenance and token accounting. Every leg is map-only;
    * the union is free (no exchange). Each encode→extract leg is
    * lossless for this layout, so the oracle reconstructs the corpus
    * from the source table without touching any format. */
  val docCorpus: QueryDef = QueryDef(
    "doc_corpus",
    (s, dir) => {
      import s.implicits._
      val base = tbl(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text")).as[(Long, String)]
      def body(id: Long, text: String) = s"Doc $id: ${text.take(100)}"
      val docx = graft.sources.Docx.paragraphs(
        base.filter(_._1 % 4 == 0).map { case (id, t) =>
          graft.sources.Docx.DocxFile(id, graft.sources.Docx.encodeDocx(Seq(body(id, t)))) })
        .map(p => (p.id, "docx", p.text))
      val pdf = graft.sources.Pdf.texts(
        base.filter(_._1 % 4 == 1).map { case (id, t) =>
          graft.sources.Pdf.PdfDoc(id,
            graft.sources.Pdf.encodePdfText(Seq(Seq(body(id, t))))) })
        .map(r => (r.id, "pdf", r.text))
      val odt = graft.sources.Odt.paragraphs(
        base.filter(_._1 % 4 == 2).map { case (id, t) =>
          graft.sources.Odt.OdtFile(id, graft.sources.Odt.encodeOdt(Seq(body(id, t)))) })
        .map(p => (p.id, "odt", p.text))
      val eml = graft.sources.Eml.parts(
        base.filter(_._1 % 4 == 3).map { case (id, t) =>
          val m = Seq("From: corpus@example.com",
            "Content-Type: text/plain; charset=utf-8",
            "Content-Transfer-Encoding: quoted-printable",
            "", GateEnc.qpEncode(body(id, t))).mkString("\r\n")
          graft.sources.Eml.EmlFile(id, m.getBytes("ISO-8859-1")) })
        .map(p => (p.id, "eml", p.text))
      docx.union(pdf).union(odt).union(eml).toDF("doc_id", "fmt", "text")
        .select(col("doc_id"), col("fmt"), md5(col("text")).as("text_md5"),
          size(TextFunctions.words(col("text"))).as("n_ws_tokens"))
        .orderBy("doc_id")
    },
    Some("""
      WITH b AS (
        SELECT doc_id, 'Doc ' || doc_id || ': ' || substring(text, 1, 100) AS body
        FROM documents WHERE doc_id < 200)
      SELECT doc_id,
        CASE doc_id % 4 WHEN 0 THEN 'docx' WHEN 1 THEN 'pdf' WHEN 2 THEN 'odt' ELSE 'eml' END AS fmt,
        md5(body) AS text_md5,
        len(list_filter(regexp_split_to_array(body, ' +'), w -> len(w) > 0)) AS n_ws_tokens
      FROM b ORDER BY doc_id
    """.trim)
  )

  /** Email ingest ([[graft.sources.Eml]]): mbox split + multipart walk
    * + QP/base64 transfer decode, charset quarantine per part (koi8-r
    * plants). The synthesis chain is lossless, so the oracle
    * reconstructs every field from the source table. */
  val emlExtract: QueryDef = QueryDef(
    "eml_extract",
    (s, dir) => graft.sources.Eml.parts(emlMboxes(s, dir), keepCorrupt = true).toDF()
      .select(
        (col("id") * 10 + col("msg")).as("doc_id"),
        col("part"),
        coalesce(col("mime"), lit("")).as("mime"),
        coalesce(col("filename"), lit("")).as("filename"),
        md5(coalesce(col("text"), lit(""))).as("text_md5"),
        col("n_bytes"),
        when(col("error").isNull, "ok").otherwise("refused").as("status"))
      .orderBy("doc_id", "part"),
    Some("""
      WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < 200)
      SELECT doc_id, '1' AS part,
        CASE WHEN doc_id % 9 = 0 THEN '' ELSE 'text/plain' END AS mime,
        '' AS filename,
        CASE WHEN doc_id % 9 = 0 THEN md5('') ELSE md5(text) END AS text_md5,
        CASE WHEN doc_id % 9 = 0 THEN 0 ELSE strlen(text) END AS n_bytes,
        CASE WHEN doc_id % 9 = 0 THEN 'refused' ELSE 'ok' END AS status
      FROM src
      UNION ALL
      SELECT doc_id, '2', 'text/html', '', md5('<p>Doc ' || doc_id || '</p>'),
        length('<p>Doc ' || doc_id || '</p>'), 'ok' FROM src
      UNION ALL
      SELECT doc_id, '3', 'application/octet-stream', 'd.bin', md5(''),
        length('attachment ' || doc_id), 'ok' FROM src
      ORDER BY doc_id, part
    """.trim)
  )

  /** Envelope tier of the same mboxes: RFC 2047 subject decode, header
    * fields, per-message part accounting (markers counted). */
  val emlEnvelope: QueryDef = QueryDef(
    "eml_envelope",
    (s, dir) => graft.sources.Eml.envelopes(emlMboxes(s, dir), keepCorrupt = true).toDF()
      .select((col("id") * 10 + col("msg")).as("doc_id"),
        col("from"), col("to"), col("subject"), col("n_parts"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id, 'Sender <sender@example.com>' AS "from",
        'list-' || CAST(doc_id // 10 AS BIGINT) || '@example.com' AS "to",
        'Doc ' || doc_id || ' café' AS subject, 3 AS n_parts
      FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """.trim)
  )

  /** MediaWiki dump ingest ([[graft.sources.MediaWiki]]): documents
    * re-exported as export-0.11 XML dumps (20 pages per file, every
    * third file gzip-wrapped, every third-plus-one zstd-framed — the
    * sniffing tier must route all three), parsed back map-only. The
    * encode→parse chain is lossless for this layout, so the oracle
    * reconstructs pages from the source table. */
  val wikiPages: QueryDef = QueryDef(
    "wiki_pages",
    (s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .groupByKey(_._1 / 20) // synthesis-only shuffle; the parse is map-only
        .mapGroups { (g, it) =>
          val pages = it.toSeq.sortBy(_._1).map { case (id, text) =>
            (id, (id % 3).toInt, s"Article $id", s"'''Doc $id.''' ${text.take(80)}")
          }
          val xml = graft.sources.MediaWiki.encodeDump(pages)
          val bytes = (g % 3) match {
            case 0 =>
              val o = new java.io.ByteArrayOutputStream()
              val z = new java.util.zip.GZIPOutputStream(o)
              z.write(xml); z.close(); o.toByteArray
            case 1 => graft.sources.Zstd.encodeRawFrames(xml)
            case _ => xml
          }
          graft.sources.MediaWiki.WikiDump(g, bytes)
        }
      graft.sources.MediaWiki.pages(files).toDF()
        .select(col("page_id"), col("ns"), col("title"), col("rev_id"),
          md5(col("text")).as("text_md5"))
        .orderBy("page_id")
    },
    Some("""
      SELECT doc_id AS page_id, CAST(doc_id % 3 AS INTEGER) AS ns,
        'Article ' || doc_id AS title, doc_id * 10 + 1 AS rev_id,
        md5('''''''Doc ' || doc_id || '.'''''' ' || substring(text, 1, 80)) AS text_md5
      FROM documents WHERE doc_id < 200 ORDER BY page_id
    """.trim)
  )

  /** A REAL `.xml.bz2` dump end to end: the embedded fixture is a
    * system-bzip2 compression of a three-page export (article,
    * redirect, talk page) — [[graft.sources.Bzip2]] decode + the XML
    * walk + entity decode, pinned by VALUES. */
  val wikiBz2: QueryDef = QueryDef(
    "wiki_bz2",
    (s, dir) => {
      import s.implicits._
      val b64 = "QlpoOTFBWSZTWaV9mKkAAMRfgFAQWYP9Hz6gFJo/79/uQAG8FADU1Q9TRpoek0aMmMgRkDNQYjTGAAAAA0AAAAAGAAAAA0AAAAACKSaGpoamGpqbQyanpqMhk2phMh6lSDziBCiEwA7WypcHsn6er338qu64Pz54ufV0xtDX4Mkw0viT6s5jskZtrc4ZD4zz3X+e9HpgXDj206N+xxjIO1g5hwIbYYt1EyqzFVZAQxFkiWmtn7TH0ztTqCy66H50JYO9y6tW7d5Ox4UiIjJDcwEXTGpt2PZEOdkyeBsiTW4NTJ9pnRGiRQsItZAPlIA4aXJEgZC7isX1L7VpUnQOCjI1Aki1NhjsYiBFrQ79hxZjtbWjw7NkRWDAZv40+vuw+A/EmNF0mQWGKGlbJm5rB9gpMfrYuI0E8w6DSnD8B3Nw+Q8T3jKOu80gX4pxgOqsLV0dAYucJr14VftOcqM/603D/UrQl4gZCRlsaPqTAxa+a9DM2tHEmXW3ZIs+Ld2Rm1PNhSUNL5PWvKf+m5uqY3Y4ji22rnctNG8ibjsCBxpfycjldsMmUmTWtdKfTTS+9lWO7qYyEwmByeNXDlf/xdyRThQkKV9mKkA="
      val ds = s.createDataset(Seq(graft.sources.MediaWiki.WikiDump(1L,
        java.util.Base64.getDecoder.decode(b64))))
      graft.sources.MediaWiki.pages(ds).toDF()
        .select(col("page_id"), col("ns"), col("title"),
          coalesce(col("redirect"), lit("")).as("redirect"),
          col("rev_id"), col("timestamp"), md5(col("text")).as("text_md5"))
        .orderBy("page_id")
    },
    Some("""
      SELECT * FROM (VALUES
        (1, 0, 'Alpha & Beta', '', 11, '2026-01-01T00:00:00Z', '366d396fd15adeff6353ddf12898b0c7'),
        (2, 0, 'Beta', 'Alpha & Beta', 21, '2026-01-02T00:00:00Z', '84b836e9257c3ffa6474dff73d9c9c81'),
        (3, 1, 'Talk:Alpha', '', 31, '2026-01-03T00:00:00Z', 'bd8bc36eb41bc90c585ae7e902e9e284')
      ) AS t(page_id, ns, title, redirect, rev_id, timestamp, text_md5)
      ORDER BY page_id
    """.trim)
  )

  /** Wikitext → plain text ([[graft.operators.Wikitext]]): every
    * document wrapped in the full chrome battery (nested templates,
    * file/piped/plain/external links, refs, comments, a table,
    * emphasis, heading + list lines, entities). The oracle replays all
    * nineteen passes + entity decode in DuckDB. */
  // the full wikitext chrome battery, shared by wikitext_clean and the
  // wiki_corpus_e2e composite (nested templates, links, refs, comments,
  // a table, emphasis, heading + list lines, entities)
  private val wikiChromeHead =
    "{{Infobox x|a=1|b={{n|y}}}}\n'''Intro''' with [[linked article|label]] and [[Plain]].\n== Sec ==\n* bullet\n"
  private val wikiChromeTail =
    "<ref name=\"r\">c</ref>.<!-- h -->\n{| class=\"t\"\n|r\n|}\n[http://e.com/x ext label] and [http://e.com/y].\n&nbsp;&amp; tail"

  val wikitextClean: QueryDef = QueryDef(
    "wikitext_clean",
    (s, dir) => tbl(s, dir, "documents")
      .select(col("doc_id").as("id"),
        concat(lit(wikiChromeHead), col("text"), lit(wikiChromeTail)).as("wikitext"))
      .select(col("id"), md5(graft.operators.Wikitext.clean(col("wikitext"))).as("clean_md5"))
      .orderBy("id"),
    Some(s"""
      WITH src AS (
        SELECT doc_id AS id,
          '{{Infobox x|a=1|b={{n|y}}}}' || chr(10) || '''''''Intro''''''' || ' with [[linked article|label]] and [[Plain]].' || chr(10) || '== Sec ==' || chr(10) || '* bullet' || chr(10) ||
          text ||
          '<ref name="r">c</ref>.<!-- h -->' || chr(10) || '{| class="t"' || chr(10) || '|r' || chr(10) || '|}' || chr(10) || '[http://e.com/x ext label] and [http://e.com/y].' || chr(10) || '&nbsp;&amp; tail' AS wikitext
        FROM documents)
      SELECT id, md5(${graft.operators.Wikitext.cleanSql("wikitext")}) AS clean_md5
      FROM src ORDER BY id
    """.trim)
  )

  /** The encyclopedia path END TO END: wrapped export dumps (gzip /
    * zstd-framed per file) -> [[graft.sources.MediaWiki]] page walk ->
    * article selection (ns 0, non-redirect) -> [[graft.operators.Wikitext]]
    * cleanup -> token accounting, in one measured query. Page text
    * carries the full chrome battery; the oracle replays selection +
    * cleanup over the reconstructed wikitext (the dump transport is
    * pinned by wiki_pages/wiki_bz2). */
  val wikiCorpusE2e: QueryDef = QueryDef(
    "wiki_corpus_e2e",
    (s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .groupByKey(_._1 / 20)
        .mapGroups { (g, it) =>
          val pages = it.toSeq.sortBy(_._1).map { case (id, text) =>
            (id, (id % 3).toInt, s"Article $id", wikiChromeHead + text + wikiChromeTail)
          }
          val xml = graft.sources.MediaWiki.encodeDump(pages)
          val bytes =
            if (g % 2 == 0) {
              val o = new java.io.ByteArrayOutputStream()
              val z = new java.util.zip.GZIPOutputStream(o)
              z.write(xml); z.close(); o.toByteArray
            } else graft.sources.Zstd.encodeRawFrames(xml)
          graft.sources.MediaWiki.WikiDump(g, bytes)
        }
      graft.sources.MediaWiki.pages(files).toDF()
        .where(col("ns") === 0 && col("redirect").isNull)
        .select(col("page_id"), graft.operators.Wikitext.clean(col("text")).as("clean"))
        .select(col("page_id"), md5(col("clean")).as("clean_md5"),
          size(TextFunctions.words(col("clean"))).as("n_words"))
        .orderBy("page_id")
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id AS page_id,
          ${sqlLit(wikiChromeHead)} || text || ${sqlLit(wikiChromeTail)} AS wikitext
        FROM documents WHERE doc_id < 200 AND doc_id % 3 = 0),
      cleaned AS (SELECT page_id, ${graft.operators.Wikitext.cleanSql("wikitext")} AS clean FROM src)
      SELECT page_id, md5(clean) AS clean_md5,
        len(list_filter(regexp_split_to_array(clean, ' +'), w -> len(w) > 0)) AS n_words
      FROM cleaned ORDER BY page_id
    """.trim)
  )

  /** Zstd decode gate ([[graft.sources.Zstd]]): six embedded REAL
    * system-zstd frames (levels -1/-3/-6/-19 — Huffman literals, FSE
    * sequence tables, RLE blocks, repeat offsets, raw tails, empty
    * frame) decompress to their pinned lengths + md5s, and a truncated
    * frame must refuse. The pins come from the payload DEFINITIONS in
    * `tools/gen_zstd_fixtures.py`, not from this decoder. */
  val zstdDecode: QueryDef = QueryDef(
    "zstd_decode",
    (s, dir) => {
      import s.implicits._
      val rows = graft.queries.ZstdFixtures.all.map { case (n, b64, _, _) => (n, b64) } :+
        (("corrupt", graft.queries.ZstdFixtures.all.head._2.take(40)))
      s.createDataset(rows).repartition(rows.size)
        .map { case (name, b64) =>
          try {
            val d = graft.sources.Zstd.decompress(java.util.Base64.getDecoder.decode(b64))
            val md = java.security.MessageDigest.getInstance("MD5").digest(d)
            (name, d.length.toLong, md.map("%02x".format(_)).mkString, "ok")
          } catch {
            case scala.util.control.NonFatal(_) => (name, -1L, "", "refused")
          }
        }
        .toDF("name", "n_bytes", "payload_md5", "status")
        .orderBy("name")
    },
    Some {
      val vals = graft.queries.ZstdFixtures.all
        .map { case (n, _, len, md5) => s"('$n', CAST($len AS BIGINT), '$md5', 'ok')" }
        .mkString(",\n          ") + ",\n          ('corrupt', CAST(-1 AS BIGINT), '', 'refused')"
      s"""
      SELECT * FROM (VALUES
          $vals) AS t(name, n_bytes, payload_md5, status)
      ORDER BY name
      """.trim
    }
  )

  /** Embedded PDF image extraction ([[graft.sources.Pdf.images]]) —
    * the scanned-PDF corpus: per doc one image XObject as DCT (our
    * baseline JPEG), Flate gray (luma replayed exactly in SQL: BT.601
    * at gray is the identity), CCITT-G4 (the libtiff strip, ink count
    * pinned), or JPX (loud per-image quarantine). DCT luma is pinned
    * by JpegSpec/media_jpeg gates, not here (no SQL twin of a DCT). */
  val pdfImages: QueryDef = QueryDef(
    "pdf_images",
    (s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents")
        .filter(col("doc_id") < 120)
        .select(col("doc_id"))
        .as[Long]
        .map { id =>
          val bytes = (id % 4).toInt match {
            case 0 =>
              val gray = Array.tabulate(16 * 16)(i => ((id * 13 + i * 5) % 256).toInt)
              graft.sources.Pdf.encodePdfImages(Seq(("DCTDecode", 16, 16,
                "/ColorSpace /DeviceGray /BitsPerComponent 8",
                graft.operators.Jpeg.encodeGray(16, 16, gray))))
            case 1 =>
              val gray = Array.tabulate(16 * 12)(i => ((id * 31 + i * 7) % 256).toInt)
              val d = new java.util.zip.Deflater()
              d.setInput(gray.map(_.toByte)); d.finish()
              val bo = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](8192)
              while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
              d.end()
              graft.sources.Pdf.encodePdfImages(Seq(("FlateDecode", 16, 12,
                "/ColorSpace /DeviceGray /BitsPerComponent 8", bo.toByteArray)))
            case 2 =>
              val strip = java.util.Base64.getDecoder.decode(graft.queries.CcittFixtures.g4StripB64)
              val (w0, h0) = (graft.queries.CcittFixtures.g4StripW, graft.queries.CcittFixtures.g4StripH)
              graft.sources.Pdf.encodePdfImages(Seq(("CCITTFaxDecode", w0, h0,
                s"/ColorSpace /DeviceGray /BitsPerComponent 1 " +
                  s"/DecodeParms << /K -1 /Columns $w0 /Rows $h0 >>", strip)))
            case _ =>
              graft.sources.Pdf.encodePdfImages(Seq(("JPXDecode", 4, 4,
                "/ColorSpace /DeviceRGB /BitsPerComponent 8", Array[Byte](1, 2, 3))))
          }
          graft.sources.Pdf.PdfDoc(id, bytes)
        }
      graft.sources.Pdf.images(docs, keepCorrupt = true).toDF()
        .select(col("id").as("doc_id"), col("obj"), col("width"), col("height"),
          col("filter"),
          when(col("filter") === "DCTDecode", lit(null).cast("long"))
            .otherwise(col("luma_sum")).as("luma_sum"),
          when(col("error").isNull, "ok").otherwise("quarantined").as("status"))
        .orderBy("doc_id")
    },
    Some {
      val w0 = graft.queries.CcittFixtures.g4StripW
      val h0 = graft.queries.CcittFixtures.g4StripH
      val ink = graft.queries.CcittFixtures.g4StripBlack
      s"""
      SELECT doc_id, 4 AS obj,
        CASE doc_id % 4 WHEN 0 THEN 16 WHEN 1 THEN 16 WHEN 2 THEN $w0 ELSE 4 END AS width,
        CASE doc_id % 4 WHEN 0 THEN 16 WHEN 1 THEN 12 WHEN 2 THEN $h0 ELSE 4 END AS height,
        CASE doc_id % 4 WHEN 0 THEN 'DCTDecode' WHEN 1 THEN 'FlateDecode'
             WHEN 2 THEN 'CCITTFaxDecode' ELSE 'JPXDecode' END AS filter,
        CASE doc_id % 4
          WHEN 1 THEN (SELECT CAST(sum((d.doc_id * 31 + r.range * 7) % 256) AS BIGINT)
                       FROM range(0, 192) r)
          WHEN 2 THEN CAST(($w0 * $h0 - $ink) * 255 AS BIGINT)
          WHEN 3 THEN CAST(-1 AS BIGINT)
          ELSE NULL END AS luma_sum,
        CASE WHEN doc_id % 4 = 3 THEN 'quarantined' ELSE 'ok' END AS status
      FROM documents d WHERE doc_id < 120 ORDER BY doc_id
      """.trim
    }
  )

  /** CCITT G3/G4 fax TIFF decode ([[graft.operators.CcittFax]] inside
    * [[graft.operators.Media.tiffPixelDecoder]]): embedded REAL
    * system-libtiff encodes across G3-1D / G3-2D / G4 / RLE,
    * photometrics, fill orders and strip layouts decode to pinned
    * black-pixel counts (from the pre-encode bitmap definitions); a
    * truncated file refuses loudly. */
  val mediaTiffCcitt: QueryDef = QueryDef(
    "media_tiff_ccitt",
    (s, dir) => {
      import s.implicits._
      val rows = graft.queries.CcittFixtures.all.map { case (n, b64, _, _, _) => (n, b64, false) } :+
        (("zz_corrupt", graft.queries.CcittFixtures.all.head._2, true))
      s.createDataset(rows).repartition(rows.size)
        .map { case (name, b64, truncate) =>
          val bytes0 = java.util.Base64.getDecoder.decode(b64)
          val bytes = if (truncate) java.util.Arrays.copyOf(bytes0, bytes0.length - 60) else bytes0
          try {
            val (w, h, px) = graft.operators.Media.tiffPixelDecoder(bytes)
            (name, w, h, px.count(p => (p & 0xffffff) == 0).toLong, "ok")
          } catch { case scala.util.control.NonFatal(_) => (name, -1, -1, -1L, "refused") }
        }
        .toDF("name", "width", "height", "n_black", "status")
        .orderBy("name")
    },
    Some {
      val vals = graft.queries.CcittFixtures.all.map { case (n, _, w, h, n1) =>
        val black = if (n == "g4_minisblack") w.toLong * h - n1 else n1
        s"('$n', $w, $h, CAST($black AS BIGINT), 'ok')"
      }.mkString(",\n          ") +
        ",\n          ('zz_corrupt', -1, -1, CAST(-1 AS BIGINT), 'refused')"
      s"""
      SELECT * FROM (VALUES
          $vals) AS t(name, width, height, n_black, status)
      ORDER BY name
      """.trim
    }
  )

  /** Dictionary-zstd decode ([[graft.sources.Zstd.parseDictionary]]):
    * a real `zstd --train` dictionary + `-D`-compressed held-out
    * samples at levels 1/3/9/19 decode byte-exactly (md5s pinned from
    * the payload definitions); the same frames REFUSE without the
    * dictionary and under a wrong-id dictionary — the loud-refusal
    * twin rows. */
  val zstdDictDecode: QueryDef = QueryDef(
    "zstd_dict_decode",
    (s, dir) => {
      import s.implicits._
      val rows = graft.queries.ZstdDictFixtures.all.map { case (n, b64, _, _) => (n, b64, "with_dict") } ++
        Seq((graft.queries.ZstdDictFixtures.all.head._1,
          graft.queries.ZstdDictFixtures.all.head._2, "no_dict"),
          (graft.queries.ZstdDictFixtures.all.head._1,
            graft.queries.ZstdDictFixtures.all.head._2, "wrong_id"))
      s.createDataset(rows).repartition(rows.size)
        .map { case (name, b64, mode) =>
          val payload = java.util.Base64.getDecoder.decode(b64)
          def dict(flipId: Boolean) = {
            val d = java.util.Base64.getDecoder.decode(graft.queries.ZstdDictFixtures.dictB64)
            if (flipId) d(4) = (d(4) ^ 1).toByte
            graft.sources.Zstd.parseDictionary(d)
          }
          try {
            val d = mode match {
              case "with_dict" => graft.sources.Zstd.decompress(payload, dict(false))
              case "wrong_id" => graft.sources.Zstd.decompress(payload, dict(true))
              case _ => graft.sources.Zstd.decompress(payload)
            }
            val md = java.security.MessageDigest.getInstance("MD5").digest(d)
            (name, mode, d.length.toLong, md.map("%02x".format(_)).mkString, "ok")
          } catch {
            case scala.util.control.NonFatal(_) => (name, mode, -1L, "", "refused")
          }
        }
        .toDF("name", "mode", "n_bytes", "payload_md5", "status")
        .orderBy("name", "mode")
    },
    Some {
      val vals = graft.queries.ZstdDictFixtures.all
        .map { case (n, _, len, md5) => s"('$n', 'with_dict', CAST($len AS BIGINT), '$md5', 'ok')" }
        .mkString(",\n          ") +
        s",\n          ('${graft.queries.ZstdDictFixtures.all.head._1}', 'no_dict', CAST(-1 AS BIGINT), '', 'refused')" +
        s",\n          ('${graft.queries.ZstdDictFixtures.all.head._1}', 'wrong_id', CAST(-1 AS BIGINT), '', 'refused')"
      s"""
      SELECT * FROM (VALUES
          $vals) AS t(name, mode, n_bytes, payload_md5, status)
      ORDER BY name, mode
      """.trim
    }
  )

  /** `.warc.zst` ingest: the warc_extract chain with every WARC file
    * zstd-framed (store-mode frames — the entropy paths are pinned by
    * `zstd_decode` and the golden spec); [[graft.sources.Warc]] must
    * detect the magic and walk records transparently. */
  val warcZstExtract: QueryDef = QueryDef(
    "warc_zst_extract",
    (s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .groupByKey(_._1 / 20)
        .mapGroups { (g, it) =>
          val recs = it.toSeq.sortBy(_._1).map { case (id, text) =>
            (s"http://corpus.example/doc/$id", "2026-01-01T00:00:00Z", "text/html",
              s"<html><body><p>$text</p></body></html>".getBytes("UTF-8"))
          }
          graft.sources.Warc.WarcFile(g,
            graft.sources.Zstd.encodeRawFrames(graft.sources.Warc.encodeWarc(recs)))
        }
      graft.sources.Warc.records(files).toDF()
        .select(
          regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long").as("doc_id"),
          col("target_uri"), col("http_status"), col("mime"),
          col("payload").cast("string").as("payload_text"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        'http://corpus.example/doc/' || doc_id AS target_uri,
        200 AS http_status, 'text/html' AS mime,
        '<html><body><p>' || text || '</p></body></html>' AS payload_text
      FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """.trim)
  )

  /** WARC ingest, real end to end ([[graft.sources.Warc]]): documents
    * are wrapped as HTTP responses into multi-record WARC files — 20
    * records per file, ODD files member-gzipped like Common Crawl's
    * `.warc.gz` — then the map-only record walk parses them back. The
    * chain is a byte-exact round-trip, so the oracle reconstructs every
    * expected field straight from the source table; any framing,
    * gzip-member, HTTP-header or charset drift flips rows. */
  val warcExtract: QueryDef = QueryDef(
    "warc_extract",
    (s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .groupByKey(_._1 / 20) // synthesis-only shuffle; the parse is map-only
        .mapGroups { (g, it) =>
          val recs = it.toSeq.sortBy(_._1).map { case (id, text) =>
            (s"http://corpus.example/doc/$id", "2026-01-01T00:00:00Z", "text/html",
              s"<html><body><p>$text</p></body></html>".getBytes("UTF-8"))
          }
          graft.sources.Warc.WarcFile(g, graft.sources.Warc.encodeWarc(recs, gzipPerRecord = g % 2 == 1))
        }
      graft.sources.Warc.records(files).toDF()
        .select(
          regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long").as("doc_id"),
          col("target_uri"), col("http_status"), col("mime"),
          col("payload").cast("string").as("payload_text"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        'http://corpus.example/doc/' || doc_id AS target_uri,
        200 AS http_status, 'text/html' AS mime,
        '<html><body><p>' || text || '</p></body></html>' AS payload_text
      FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """.trim)
  )

  /** HTTP Content-Encoding decode in WARC responses
    * ([[graft.sources.Warc]] parseHttp): bodies planted per-doc as
    * identity / gzip / deflate / br / zstd (every 50th doc declared
    * with the unsupported token `compress`) must decode back to the
    * exact page bytes — md5-pinned against the DuckDB twin computing
    * the same md5 from the raw text — while unsupported encodings
    * quarantine the RECORD (error set, payload held raw), never flow
    * into the text tier as garbage. gzip/deflate are full-entropy JDK
    * streams; br/zstd use this repo's raw-meta-block encoders here
    * (their full-entropy decode is pinned by BrotliSpec/ZstdSpec
    * against system-codec fixtures). Map-only parse, zero exchange
    * before the ordering. */
  val warcContentEncoding: QueryDef = QueryDef(
    "warc_content_encoding",
    (s, dir) => {
      import s.implicits._
      val encs = Seq("identity", "gzip", "deflate", "br", "zstd")
      val files = tbl(s, dir, "documents")
        .filter(col("doc_id") < 250)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .groupByKey(_._1 / 25) // synthesis-only shuffle; the parse is map-only
        .mapGroups { (g, it) =>
          val recs = it.toSeq.sortBy(_._1).map { case (id, text) =>
            // gzip lenient-tail legs (both declare plain "gzip"): %25==6
            // plants a valid member + trailing garbage (must extract),
            // %25==16 a damaged concatenated member (must quarantine)
            val enc =
              if (id % 50 == 49) "compress"
              else if (id % 25 == 6) "gzip+tail"
              else if (id % 25 == 16) "gzip+badmember"
              else encs((id % 5).toInt)
            (s"http://corpus.example/doc/$id", "2026-01-01T00:00:00Z", "text/html",
              enc, s"<html><body><p>$text</p></body></html>".getBytes("UTF-8"))
          }
          graft.sources.Warc.WarcFile(g, graft.sources.Warc.encodeWarcEnc(recs))
        }
      graft.sources.Warc.records(files).toDF()
        .select(
          regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long").as("doc_id"),
          col("content_encoding").as("encoding"),
          col("error").isNotNull.as("quarantined"),
          when(col("error").isNull, md5(col("payload"))).as("payload_md5"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CASE WHEN doc_id % 50 = 49 THEN 'compress'
             ELSE CASE doc_id % 5 WHEN 0 THEN 'identity' WHEN 1 THEN 'gzip'
                  WHEN 2 THEN 'deflate' WHEN 3 THEN 'br' ELSE 'zstd' END
        END AS encoding,
        (doc_id % 50 = 49 OR doc_id % 25 = 16) AS quarantined,
        CASE WHEN doc_id % 50 = 49 OR doc_id % 25 = 16 THEN NULL
             ELSE md5('<html><body><p>' || text || '</p></body></html>')
        END AS payload_md5
      FROM documents WHERE doc_id < 250 ORDER BY doc_id
    """.trim)
  )

  /** The two r10 ingest tiers COMPOSED through the real container
    * walk: pages written in four charsets (meta-declared), each body
    * content-encoded five ways, packed into WARC files → [[graft.
    * sources.Warc]] decode (gzip/deflate/br/zstd legs) → [[graft.
    * operators.Charsets]] sniff+transcode → every page md5-equal to
    * its UTF-8 source text. The transport is lossless end to end, so
    * the oracle computes the same md5 from the raw text — one wrong
    * byte anywhere in the chain flips the gate. Map-only after the
    * synthesis shuffle. */
  val crawlCharsetE2e: QueryDef = QueryDef(
    "crawl_charset_e2e",
    (s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents")
        .filter(col("doc_id") < 250)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .groupByKey(_._1 / 25)
        .mapGroups { (g, it) =>
          val encs = Seq("identity", "gzip", "deflate", "br", "zstd")
          val cases = Seq( // (label, jdk charset, non-ascii suffix)
            ("utf-8", "UTF-8", " — żółć"),
            ("shift_jis", "windows-31j", " 日本語"), // declared via HEADER only
            ("windows-1251", "windows-1251", " русский"),
            ("euc-kr", "x-windows-949", " 한국어"))
          val recs = it.toSeq.sortBy(_._1).map { case (id, text) =>
            val (label, jdk, suffix) = cases((id % 4).toInt)
            // case 1 exercises the transport-header charset leg (the
            // charset_param column): no meta tag in the page at all
            val page =
              if (id % 4 == 1) s"<html><body><p>$text$suffix</p></body></html>"
              else s"""<html><head><meta charset="$label"></head><body><p>$text$suffix</p></body></html>"""
            val ctype = if (id % 4 == 1) s"text/html; charset=$label" else "text/html"
            (s"http://corpus.example/doc/$id", "2026-01-01T00:00:00Z", ctype,
              encs((id % 5).toInt), page.getBytes(jdk))
          }
          graft.sources.Warc.WarcFile(g, graft.sources.Warc.encodeWarcEnc(recs))
        }
      val recs = graft.sources.Warc.records(files).toDF()
        .filter(col("error").isNull)
        .select(regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long").as("doc_id"),
          col("content_encoding").as("encoding"), col("charset_param"), col("payload"))
      graft.operators.Charsets.decodeHtml(recs, col("payload"),
          when(col("charset_param").isNotNull,
            concat(lit("text/html; charset="), col("charset_param"))))
        .select(col("doc_id"), col("encoding"), col("charset"),
          col("error").isNotNull.as("quarantined"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CASE doc_id % 5 WHEN 0 THEN 'identity' WHEN 1 THEN 'gzip'
             WHEN 2 THEN 'deflate' WHEN 3 THEN 'br' ELSE 'zstd' END AS encoding,
        CASE doc_id % 4 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'shift_jis'
             WHEN 2 THEN 'windows-1251' ELSE 'euc-kr' END AS charset,
        false AS quarantined,
        md5(
          (CASE WHEN doc_id % 4 = 1 THEN '<html><body><p>'
                ELSE '<html><head><meta charset="' ||
                  (CASE doc_id % 4 WHEN 0 THEN 'utf-8'
                        WHEN 2 THEN 'windows-1251' ELSE 'euc-kr' END) ||
                  '"></head><body><p>' END) || text ||
          (CASE doc_id % 4 WHEN 0 THEN ' — żółć' WHEN 1 THEN ' 日本語'
                WHEN 2 THEN ' русский' ELSE ' 한국어' END) ||
          '</p></body></html>') AS text_md5
      FROM documents WHERE doc_id < 250 ORDER BY doc_id
    """.trim)
  )

  /** The crawl-frontier composition on top of [[warcExtract]]'s
    * ingest: WARC → HTML payloads → `regexp_extract_all` over anchor
    * hrefs → exploded EDGE LIST, the input shape of the host-graph /
    * PageRank tier. Each document links to two arithmetic neighbors,
    * so the oracle reconstructs the exact edge multiset (including the
    * two doc_ids whose neighbors coincide — duplicate edges must
    * survive, extraction is not a dedup). */
  val warcLinks: QueryDef = QueryDef(
    "warc_links",
    (s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .groupByKey(_._1 / 20)
        .mapGroups { (g, it) =>
          val recs = it.toSeq.sortBy(_._1).map { case (id, text) =>
            val l1 = (id * 7 + 3) % 200
            val l2 = (id * 13 + 11) % 200
            val html = s"""<html><body><p>${text.take(80)}</p>""" +
              s"""<a href="http://corpus.example/doc/$l1">n1</a>""" +
              s"""<div><a  href="http://corpus.example/doc/$l2">n2</a></div></body></html>"""
            (s"http://corpus.example/doc/$id", "2026-01-01T00:00:00Z", "text/html",
              html.getBytes("UTF-8"))
          }
          graft.sources.Warc.WarcFile(g, graft.sources.Warc.encodeWarc(recs, gzipPerRecord = g % 2 == 0))
        }
      graft.sources.Warc.records(files).toDF()
        .select(
          regexp_extract(col("target_uri"), "(\\d+)$", 1).cast("long").as("src"),
          explode(regexp_extract_all(col("payload").cast("string"),
            lit("href=\"http://corpus\\.example/doc/(\\d+)\""), lit(1))).as("d"))
        .select(col("src"), col("d").cast("long").as("dst"))
        .orderBy("src", "dst")
    },
    Some("""
      SELECT src, dst FROM (
        SELECT doc_id AS src, (doc_id * 7 + 3) % 200 AS dst FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id, (doc_id * 13 + 11) % 200 FROM documents WHERE doc_id < 200)
      ORDER BY src, dst
    """.trim)
  )

  /** robots.txt compliance over the URL relation
    * ([[graft.operators.Robots]]): a 6-host robots dimension (host 3
    * publishes none) parsed dim-side, broadcast, and evaluated
    * map-side with RFC 9309 longest-match/allow-tie semantics — agent
    * group selection (trainbot over `*`), prefix Disallow, longer
    * Allow override, and the no-robots-allows default all exercised.
    * The synthesis is arithmetic, so the oracle reconstructs every
    * verdict without parsing anything. */
  val robotsFilter: QueryDef = QueryDef(
    "robots_filter",
    (s, dir) => {
      val robots = s.range(7).filter(col("id") =!= 3).select(
        concat(lit("h"), col("id"), lit(".example")).as("host"),
        concat(lit("# policy\nUser-agent: trainbot\nDisallow: /p"), col("id") % 5,
          lit("\nAllow: /p"), col("id") % 5,
          lit("/ok\n\nUser-agent: *\nDisallow: /")).as("txt"))
      val rules = graft.operators.Robots.hostRules(robots, "host", "txt", "trainbot/2.0")
      val urls = tbl(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("h"), col("doc_id") % 7, lit(".example")).as("host"),
        when(col("doc_id") % 3 === 2, concat(lit("/q/"), col("doc_id")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("/p"), col("doc_id") % 5, lit("/ok/"), col("doc_id")))
          .otherwise(concat(lit("/p"), col("doc_id") % 5, lit("/x"), col("doc_id")))
          .as("path"))
      graft.operators.Robots.withAllowed(urls, rules, "host", "path")
        .select("doc_id", "host", "path", "allowed")
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        'h' || (doc_id % 7) || '.example' AS host,
        CASE WHEN doc_id % 3 = 2 THEN '/q/' || doc_id
             WHEN doc_id % 3 = 1 THEN '/p' || (doc_id % 5) || '/ok/' || doc_id
             ELSE '/p' || (doc_id % 5) || '/x' || doc_id END AS path,
        CASE WHEN doc_id % 7 = 3 THEN true            -- host without robots.txt
             WHEN doc_id % 3 = 2 THEN true            -- /q/: no rule matches
             WHEN doc_id % 3 = 1 THEN true            -- longer Allow /p?/ok wins
             WHEN (doc_id % 7) % 5 <> doc_id % 5 THEN true -- other host's prefix
             ELSE false END AS allowed
      FROM documents ORDER BY doc_id
    """.trim)
  )

  /** PDF ingest ([[graft.sources.Pdf]]): documents become 2-page PDFs
    * (FlateDecode content streams, escaped literals), then the
    * map-only object-scan extractor recovers every page's text. The
    * chain is a lossless round-trip for the encoder's line discipline,
    * so the oracle reconstructs pages straight from the source text. */
  /** DOCX ingest ([[graft.sources.Docx]]): every document re-muxed as a
    * real OOXML package (zip + WordprocessingML via the repo's own zip
    * writer) with two paragraphs — a text head and a constant carrying
    * tab + the XML-escaped characters — and every 7th document doubled
    * by an xlsx package that must refuse BY NAME (the PDF quarantine
    * contract applied to OOXML). Encode→extract is lossless for this
    * layout, so the oracle reconstructs paragraphs from the source. */
  val docxExtract: QueryDef = QueryDef(
    "docx_extract",
    (s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val doc = graft.sources.Docx.DocxFile(id, graft.sources.Docx.encodeDocx(Seq(
            s"Doc $id: ${text.take(100)}", "A\tB & <c>")))
          if (id % 7 == 0)
            Seq(doc, graft.sources.Docx.DocxFile(id + 1000000L,
              graft.sources.Archives.encodeZip(
                Seq("xl/workbook.xml" -> "<workbook/>".getBytes("UTF-8")))))
          else Seq(doc)
        }
      graft.sources.Docx.paragraphs(files, keepCorrupt = true).toDF()
        .select(col("id"), col("para"),
          md5(coalesce(col("text"), lit(""))).as("text_md5"),
          when(col("error").isNull, "ok").otherwise("refused").as("status"))
        .orderBy("id", "para")
    },
    Some("""
      SELECT doc_id AS id, 0 AS para, md5('Doc ' || doc_id || ': ' || substring(text, 1, 100)) AS text_md5, 'ok' AS status FROM documents
      UNION ALL
      SELECT doc_id, 1, md5('A' || chr(9) || 'B & <c>'), 'ok' FROM documents
      UNION ALL
      SELECT doc_id + 1000000, -1, md5(''), 'refused' FROM documents WHERE doc_id % 7 = 0
      ORDER BY id, para
    """.trim)
  )

  val pdfExtract: QueryDef = QueryDef(
    "pdf_extract",
    (s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents")
        .filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val head = text.take(120)
          graft.sources.Pdf.PdfDoc(id, graft.sources.Pdf.encodePdfText(Seq(
            Seq(s"Document $id", head),
            Seq(s"(page 2 of $id) with \\ specials", s"len=${text.length}"))))
        }
      graft.sources.Pdf.texts(docs).toDF()
        .select(col("id").as("doc_id"), col("page"), col("text").as("page_text"))
        .orderBy("doc_id", "page")
    },
    Some("""
      SELECT doc_id, page,
        CASE page
          WHEN 0 THEN 'Document ' || doc_id || chr(10) || substring(text, 1, 120)
          ELSE '(page 2 of ' || doc_id || ') with \ specials' || chr(10) || 'len=' || length(text)
        END AS page_text
      FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS page)
      WHERE doc_id < 150 ORDER BY doc_id, page
    """.trim)
  )

  /** Per-page font quarantine ([[graft.sources.Pdf]]): a corpus where
    * every third document embeds a Type0/CID (Identity-H) font and every
    * third-plus-one a custom /Differences encoding — the two layouts
    * whose byte codes a Latin-1 mapping would turn into silent mojibake.
    * Those pages must surface as quarantine marker rows (null text +
    * status), NEVER as text; the Helvetica rest extract verbatim. The
    * oracle derives both the verdict and the surviving text
    * arithmetically from the planted layout. */
  val pdfExtractCid: QueryDef = QueryDef(
    "pdf_extract_cid",
    (s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents")
        .filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val head = text.take(120)
          val pages = Seq(
            Seq(s"Document $id", head),
            Seq(s"(page 2 of $id) with \\ specials", s"len=${text.length}"))
          // r10/r11 split: CID with /ToUnicode extracts (0); CID without
          // it stays quarantined (1); a /Differences map whose glyphs the
          // AGL subset cannot honestly name stays quarantined (2); an
          // AGL-mappable /Differences REMAPS and extracts (3); plain
          // simple fonts extract verbatim (4)
          val bytes = (id % 5) match {
            case 0 => graft.sources.Pdf.encodePdfCid(pages)
            case 1 => graft.sources.Pdf.encodePdfCid(pages, withToUnicode = false)
            case 2 => graft.sources.Pdf.encodePdfText(pages,
              "<< /Type /Font /Subtype /Type1 /BaseFont /Custom " +
                "/Encoding << /Type /Encoding /Differences [ 65 /alpha ] >> >>")
            case 3 => graft.sources.Pdf.encodePdfText(pages,
              "<< /Type /Font /Subtype /Type1 /BaseFont /Remap " +
                "/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding " +
                "/Differences [ 68 /zero /one 32 /underscore ] >> >>")
            case _ => graft.sources.Pdf.encodePdfText(pages)
          }
          graft.sources.Pdf.PdfDoc(id, bytes)
        }
      graft.sources.Pdf.texts(docs, keepCorrupt = true).toDF()
        .select(col("id").as("doc_id"), col("page"),
          when(col("error").isNull, "ok").otherwise("quarantined").as("status"),
          col("text").as("page_text"))
        .orderBy("doc_id", "page")
    },
    Some("""
      SELECT doc_id, page,
        CASE WHEN doc_id % 5 IN (0, 3, 4) THEN 'ok' ELSE 'quarantined' END AS status,
        CASE WHEN doc_id % 5 IN (0, 4) THEN
          CASE page
            WHEN 0 THEN 'Document ' || doc_id || chr(10) || substring(text, 1, 120)
            ELSE '(page 2 of ' || doc_id || ') with \ specials' || chr(10) || 'len=' || length(text)
          END
        WHEN doc_id % 5 = 3 THEN
          -- the /Differences remap: D->0, E->1, space->underscore
          translate(CASE page
            WHEN 0 THEN 'Document ' || doc_id || chr(10) || substring(text, 1, 120)
            ELSE '(page 2 of ' || doc_id || ') with \ specials' || chr(10) || 'len=' || length(text)
          END, 'DE ', '01_')
        END AS page_text
      FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS page)
      WHERE doc_id < 150 ORDER BY doc_id, page
    """.trim)
  )

  /** Archive ingest ([[graft.sources.Archives]]): documents grouped 20
    * per archive — thirds as deflate-zip, store-zip and gzipped ustar
    * tar — then the map-only entry walk recovers every member. Oracle
    * reconstructs (file, entry, text) arithmetically. */
  val archiveExtract: QueryDef = QueryDef(
    "archive_extract",
    (s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .groupByKey(_._1 / 20)
        .mapGroups { (g, it) =>
          val entries = it.toSeq.sortBy(_._1).map { case (id, text) =>
            (s"corpus/doc_$id.txt", text.getBytes("UTF-8"))
          }
          val bytes = (g % 3) match {
            case 0 => graft.sources.Archives.encodeZip(entries, deflate = true)
            case 1 => graft.sources.Archives.encodeZip(entries, deflate = false)
            case _ =>
              val bos = new java.io.ByteArrayOutputStream()
              val gz = new java.util.zip.GZIPOutputStream(bos)
              gz.write(graft.sources.Archives.encodeTar(entries)); gz.finish()
              bos.toByteArray
          }
          graft.sources.Archives.ArchiveFile(g, bytes)
        }
      graft.sources.Archives.entries(files).toDF()
        .select(
          col("id").as("archive_id"), col("entry"),
          col("payload").cast("string").as("doc_text"))
        .orderBy("archive_id", "entry")
    },
    Some("""
      SELECT doc_id // 20 AS archive_id,
        'corpus/doc_' || doc_id || '.txt' AS entry,
        text AS doc_text
      FROM documents WHERE doc_id < 200 ORDER BY archive_id, entry
    """.trim)
  )

  /** Zip64 ingest ([[graft.sources.Archives]] APPNOTE §4.3.14-15): the
    * same 20-docs-per-archive corpus, but every archive written in FULL
    * zip64 form — sentinel 32/16-bit slots, 0x0001 extended-info extra
    * fields, EOCD64 record + locator — the layout >4 GiB dump archives
    * arrive in, synthesized at test payload sizes (the spec allows zip64
    * records at any size). Decoder must route EOCD → locator → EOCD64
    * and pull sizes/offsets from the extra fields; the oracle
    * reconstructs members arithmetically, exactly like archive_extract. */
  val archiveZip64: QueryDef = QueryDef(
    "archive_zip64",
    (s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .groupByKey(_._1 / 20)
        .mapGroups { (g, it) =>
          val entries = it.toSeq.sortBy(_._1).map { case (id, text) =>
            (s"corpus/doc_$id.txt", text.getBytes("UTF-8"))
          }
          graft.sources.Archives.ArchiveFile(g,
            graft.sources.Archives.encodeZip(entries, deflate = g % 2 == 0, forceZip64 = true))
        }
      graft.sources.Archives.entries(files).toDF()
        .select(
          col("id").as("archive_id"), col("entry"),
          col("payload").cast("string").as("doc_text"))
        .orderBy("archive_id", "entry")
    },
    Some("""
      SELECT doc_id // 20 AS archive_id,
        'corpus/doc_' || doc_id || '.txt' AS entry,
        text AS doc_text
      FROM documents WHERE doc_id < 200 ORDER BY archive_id, entry
    """.trim)
  )

  /** Location-PII curation over photo archives
    * ([[graft.operators.Jpeg.stripGps]]): every third document's JPEG
    * carries a GPS IFD; the operator reads the exact signed
    * arc-seconds, strips the location (zeroing the IFD and its
    * out-of-line rationals, unlinking the pointer — no other byte
    * moves), and the gate proves the clean payload reads no GPS while
    * decoding to the SAME pixels. Oracle reconstructs coordinates
    * arithmetically (whole-arc-second rationals are exact). */
  val exifGpsStrip: QueryDef = QueryDef(
    "exif_gps_strip",
    (s, dir) => {
      import s.implicits._
      tbl(s, dir, "documents")
        .filter(col("doc_id") < 96)
        .select(col("doc_id"))
        .as[Long]
        .map { id =>
          val w = 72; val h = 64
          val gray = Array.tabulate(w * h) { p =>
            ((id % 7) * 37 + (p % w) / 8 * 13 + (p / w) / 8 * 29).toInt % 256
          }
          val base = Jpeg.encodeGray(w, h, gray)
          val payload =
            if (id % 3 == 0) {
              val lat = (if (id % 2 == 0) 1L else -1L) *
                ((id % 90) * 3600 + (id % 60) * 60 + (id * 7) % 60)
              val lon = (if (id % 5 < 3) 1L else -1L) *
                ((id % 180) * 3600 + (id % 59) * 60 + (id * 11) % 60)
              Jpeg.withExifGps(base, lat, lon)
            } else base
          val gps = Jpeg.gpsArcsecMicro(payload)
          val (clean, had) = Jpeg.stripGps(payload)
          val samePixels = Jpeg.decode(clean)._3.sameElements(Jpeg.decode(payload)._3)
          (id, had,
            gps.map(_._1 / 1000000L).getOrElse(-1L), gps.map(_._2 / 1000000L).getOrElse(-1L),
            Jpeg.gpsArcsecMicro(clean).isDefined, samePixels)
        }
        .toDF("id", "had_gps", "lat_arcsec", "lon_arcsec", "clean_has_gps", "pixels_same")
        .orderBy("id")
    },
    Some("""
      SELECT doc_id AS id,
        doc_id % 3 = 0 AS had_gps,
        CASE WHEN doc_id % 3 = 0 THEN
          (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END) *
          ((doc_id % 90) * 3600 + (doc_id % 60) * 60 + (doc_id * 7) % 60)
        ELSE -1 END AS lat_arcsec,
        CASE WHEN doc_id % 3 = 0 THEN
          (CASE WHEN doc_id % 5 < 3 THEN 1 ELSE -1 END) *
          ((doc_id % 180) * 3600 + (doc_id % 59) * 60 + (doc_id * 11) % 60)
        ELSE -1 END AS lon_arcsec,
        false AS clean_has_gps,
        true AS pixels_same
      FROM documents WHERE doc_id < 96 ORDER BY id
    """.trim)
  )

  /** Mojibake repair ([[graft.operators.TextAnalysis
    * .repairMojibakeCol]]): even documents arrive UTF-8-as-Latin-1
    * garbled (the single most common crawl corruption), odd ones
    * arrive clean — repair must fix the former EXACTLY and leave the
    * latter untouched, including the non-ASCII suffix that makes the
    * corruption visible. Oracle is the identity reconstruction. */
  val mojibakeRepair: QueryDef = QueryDef(
    "mojibake_repair",
    (s, dir) => {
      val suffix = lit(" — café naïve Ω")
      val target = concat(col("text"), suffix)
      val garbled = decode(encode(target, "UTF-8"), "ISO-8859-1")
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("input", when(col("doc_id") % 2 === 0, garbled).otherwise(target))
        .select(col("doc_id"),
          graft.operators.TextAnalysis.repairMojibakeCol(col("input")).as("fixed_text"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, text || ' — café naïve Ω' AS fixed_text
      FROM documents ORDER BY doc_id
    """.trim)
  )

  /** Charset sniff + strict transcode ([[graft.operators.Charsets]])
    * — the ingest-time fix for what [[mojibakeRepair]] only patches
    * after the fact. Pages planted per-doc in eight layouts: UTF-8 via
    * transport header, UTF-8 BOM, Shift_JIS via `<meta charset>`,
    * EUC-KR via http-equiv, Windows-1251 via header, Big5 and KOI8-R
    * via meta, and an UNDECLARED page with invalid UTF-8 bytes that
    * must quarantine. Every transcoded page md5-matches the DuckDB
    * twin computing the same md5 over the UTF-8 source text —
    * non-UTF-8 pages hash-match their UTF-8 twins post-transcode
    * exactly. Map-only; zero exchange before the ordering. */
  val charsetTranscode: QueryDef = QueryDef(
    "charset_transcode",
    (s, dir) => {
      import s.implicits._
      val planted = tbl(s, dir, "documents")
        .filter(col("doc_id") < 240)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          def page(body: String) = s"<html><body><p>$body</p></body></html>"
          def meta(cs: String, body: String) =
            s"""<html><head><meta charset="$cs"></head><body><p>$body</p></body></html>"""
          val (payload, ctype) = (id % 8).toInt match {
            case 0 => (page(s"$text — żółć über").getBytes("UTF-8"), "text/html; charset=utf-8")
            case 1 => (Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
              page(s"$text ünïcode").getBytes("UTF-8"), "text/html")
            case 2 => (meta("shift_jis", s"$text 日本語のテキスト").getBytes("windows-31j"), "text/html")
            case 3 => ((s"""<html><head><meta http-equiv="Content-Type" content="text/html; charset=euc-kr"></head>""" +
              s"<body><p>$text 한국어 텍스트</p></body></html>").getBytes("x-windows-949"), null)
            case 4 => (page(s"$text русский текст").getBytes("windows-1251"), "text/html; charset=windows-1251")
            case 5 => (meta("big5", s"$text 中文測試").getBytes("Big5"), "text/html")
            case 6 => (meta("koi8-r", s"$text русский").getBytes("KOI8-R"), "text/html")
            case _ => (page(text).getBytes("UTF-8") ++ Array[Byte](0xfe.toByte, 0xff.toByte), "text/html")
          }
          (id, payload, ctype)
        }
        .toDF("doc_id", "payload", "content_type")
      graft.operators.Charsets.decodeHtml(planted, col("payload"), col("content_type"))
        .select(col("doc_id"), col("charset"),
          col("error").isNotNull.as("quarantined"),
          when(col("error").isNull, md5(col("text"))).as("text_md5"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CASE doc_id % 8
          WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8-bom' WHEN 2 THEN 'shift_jis'
          WHEN 3 THEN 'euc-kr' WHEN 4 THEN 'windows-1251' WHEN 5 THEN 'big5'
          WHEN 6 THEN 'koi8-r' ELSE NULL END AS charset,
        doc_id % 8 = 7 AS quarantined,
        CASE doc_id % 8
          WHEN 0 THEN md5('<html><body><p>' || text || ' — żółć über</p></body></html>')
          WHEN 1 THEN md5('<html><body><p>' || text || ' ünïcode</p></body></html>')
          WHEN 2 THEN md5('<html><head><meta charset="shift_jis"></head><body><p>' || text || ' 日本語のテキスト</p></body></html>')
          WHEN 3 THEN md5('<html><head><meta http-equiv="Content-Type" content="text/html; charset=euc-kr"></head><body><p>' || text || ' 한국어 텍스트</p></body></html>')
          WHEN 4 THEN md5('<html><body><p>' || text || ' русский текст</p></body></html>')
          WHEN 5 THEN md5('<html><head><meta charset="big5"></head><body><p>' || text || ' 中文測試</p></body></html>')
          WHEN 6 THEN md5('<html><head><meta charset="koi8-r"></head><body><p>' || text || ' русский</p></body></html>')
          ELSE NULL END AS text_md5
      FROM documents WHERE doc_id < 240 ORDER BY doc_id
    """.trim)
  )

  /** Per-script language ID ([[graft.operators.Scripts.langIdRouted]]):
    * script routing first, then family-local marker tables (Cyrillic
    * ru/uk/bg, Arabic-script ar/fa/ur, Greek, Hebrew, Devanagari,
    * Latin de/en/es/fr) and the CJK character rules (hangul→ko,
    * kana→ja, han→ja-iff-kana-else-zh). Passages planted per-doc in
    * 30 languages (incl. Thai/Bengali/Tamil/Telugu/Lao/Myanmar/Khmer/
    * Georgian/Ethiopic scripts and Latin it/nl/pt/vi/pl/tr/id); the
    * oracle REPLAYS the full scoring (script counts,
    * marker argmax) in DuckDB rather than pinning labels. */
  val langIdRoutedGate: QueryDef = QueryDef(
    "lang_id_routed",
    (s, dir) => {
      val phrases = Seq(
        "the cat is on the mat and a dog",
        "der hund und die katze ist nicht hier",
        "и он не что это хорошо",
        "і він не що це добре",
        "че това да се той добре",
        "في من على أن إلى بيت",
        "در از به که را خانه",
        "میں سے کے کی ہے گھر",
        "και το να της είναι σπίτι",
        "של את על הוא זה בית",
        "है और के में की घर",
        "的是了在他中文汉字",
        "これは日本語のテキストです",
        "한국어 텍스트입니다 좋아요",
        "และ ที่ ไม่ ใน ของ บ้าน",
        "এবং এই না আমি তার বাড়ি",
        "மற்றும் அது இல்லை என் வீடு",
        "మరియు అది కాదు నా ఇల్లు",
        "của và là không người nhà",
        "que não uma para com casa",
        "che di il per sono casa",
        "het een van niet zijn huis",
        "ແລະ ທີ່ ບໍ່ ໃນ ຂອງ ເຮືອນ",
        "နှင့် သည် များ ကို တွင် အိမ်",
        "និង នៅ ជា បាន របស់ ផ្ទះ",
        "და არის რომ არ ეს სახლი",
        "እና ነው ላይ ይህ ነበር ቤት",
        "się nie jest oraz czy dom",
        "bir ve için değil olarak ev",
        "yang dan untuk tidak dengan rumah")
      val planted = tbl(s, dir, "documents")
        .filter(col("doc_id") < 280)
        .select(col("doc_id").as("id"),
          element_at(typedLit(phrases), (col("doc_id") % 30).cast("int") + 1).as("text"))
      graft.operators.Scripts.langIdRouted(planted, "id", "text").orderBy("id")
    },
    Some {
      val phrases = Seq(
        "the cat is on the mat and a dog",
        "der hund und die katze ist nicht hier",
        "и он не что это хорошо",
        "і він не що це добре",
        "че това да се той добре",
        "في من على أن إلى بيت",
        "در از به که را خانه",
        "میں سے کے کی ہے گھر",
        "και το να της είναι σπίτι",
        "של את על הוא זה בית",
        "है और के में की घर",
        "的是了在他中文汉字",
        "これは日本語のテキストです",
        "한국어 텍스트입니다 좋아요",
        "และ ที่ ไม่ ใน ของ บ้าน",
        "এবং এই না আমি তার বাড়ি",
        "மற்றும் அது இல்லை என் வீடு",
        "మరియు అది కాదు నా ఇల్లు",
        "của và là không người nhà",
        "que não uma para com casa",
        "che di il per sono casa",
        "het een van niet zijn huis",
        "ແລະ ທີ່ ບໍ່ ໃນ ຂອງ ເຮືອນ",
        "နှင့် သည် များ ကို တွင် အိမ်",
        "និង នៅ ជា បាន របស់ ផ្ទះ",
        "და არის რომ არ ეს სახლი",
        "እና ነው ላይ ይህ ነበር ቤት",
        "się nie jest oraz czy dom",
        "bir ve için değil olarak ev",
        "yang dan untuk tidak dengan rumah")
      val lst = phrases.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""
      WITH planted AS (
        SELECT doc_id AS id,
          ($lst)[CAST(doc_id % 30 AS INT) + 1] AS text
        FROM documents WHERE doc_id < 280)
      SELECT * FROM (
        ${graft.operators.Scripts.langIdRoutedSql("planted")}
      ) ORDER BY id
      """.trim
    }
  )

  /** The crawl-frontier composition closing the loop: per-host sitemap
    * XML → `regexp_extract_all` over `<loc>` entries → URL relation →
    * [[graft.operators.Robots]] verdicts → per-host allowed/blocked
    * counts. No new operator — the gate proves the sitemap and robots
    * tiers COMPOSE (the same host arithmetic as `robots_filter`, so
    * the oracle reconstructs the counts directly). */
  val sitemapFrontier: QueryDef = QueryDef(
    "sitemap_frontier",
    (s, dir) => {
      val sitemaps = tbl(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("h"), col("doc_id") % 7, lit(".example")).as("host"),
          concat(lit("<?xml version=\"1.0\"?><urlset>"),
            lit("<url><loc>http://h"), col("doc_id") % 7, lit(".example/p"),
            col("doc_id") % 5, lit("/x"), col("doc_id"), lit("</loc></url>"),
            lit("<url><loc>http://h"), col("doc_id") % 7, lit(".example/p"),
            col("doc_id") % 5, lit("/ok/y"), col("doc_id"), lit("</loc></url>"),
            lit("</urlset>")).as("xml"))
      val urls = sitemaps
        .select(col("doc_id"), col("host"),
          explode(regexp_extract_all(col("xml"),
            lit("<loc>http://[^/]+(/[^<]*)</loc>"), lit(1))).as("path"))
      val robots = s.range(7).filter(col("id") =!= 3).select(
        concat(lit("h"), col("id"), lit(".example")).as("host"),
        concat(lit("User-agent: trainbot\nDisallow: /p"), col("id") % 5,
          lit("\nAllow: /p"), col("id") % 5, lit("/ok\n")).as("txt"))
      val rules = graft.operators.Robots.hostRules(robots, "host", "txt", "trainbot/2.0")
      graft.operators.Robots.withAllowed(urls, rules, "host", "path")
        .groupBy("host")
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"))
        .orderBy("host")
    },
    Some("""
      SELECT 'h' || h || '.example' AS host,
        2 * count(*) AS n_urls,
        CAST(sum(CASE WHEN h = 3 THEN 2
                      WHEN (h % 5) <> (doc_id % 5) THEN 2
                      ELSE 1 END) AS BIGINT) AS n_allowed
      FROM (SELECT doc_id, doc_id % 7 AS h FROM documents)
      GROUP BY h ORDER BY host
    """.trim)
  )

  val defs: Seq[QueryDef] = Seq(
    warcExtract, warcZstExtract, warcContentEncoding, crawlCharsetE2e, zstdDecode, zstdDictDecode, lz4Decode, snappyDecode, mediaTiffCcitt, pdfImages, wikiPages, wikiBz2, wikitextClean, emlExtract, emlEnvelope, docCorpus, xzDecode, archiveWrapped, crawlCorpusE2e, subtitleCues, rtfExtract, jsonLdExtract, scriptDetect, frontierSchedule, wikiCorpusE2e, warcLinks, robotsFilter, pdfExtract, pdfExtractCid, docxExtract, archiveExtract, archiveZip64, archiveZipCrypto, seqfileIngest, lzwZDecode, mediaHeifTriage, archive7z, archivePkg, avroIngest, exifGpsStrip,
    mojibakeRepair, charsetTranscode, langIdRoutedGate, sitemapFrontier,
    corpusMerge, mvRefresh, mvJoinRefresh,
    hllDistinctQ, hllAggQ, hllIntersectQ, hllMergedIdx, cmsFreqQ, joinSizeEst, qualityDrift, histQuantilesQ, heavyHittersQ, qualityCalibratedQ, lengthOutliers, zorderLayout, compactRoundtrip, schemaEvolution, jsonlQuarantine, exactNtileBy, entityMatch,
    c4CleanQ, lineDedupQ, lineDedupSkewQ, intraLineDedupQ, lmScoreQ, gopherFilterQ, bpeMerges, bpeSegment, unigramVocab, unigramSegment, unigramPieces, unigramRefit, qualitySample, nbQuality, logitQuality, dsirSelectQ, nfcTextQ,
    dedupExact, minhashLsh, dedupClusters, nearDedupSurvivors, bestSurvivors, simhashSigs, simhashPairs, ngramJaccard, ngramJaccardPrefix, ngramContainment,
    ngramJaccardCapped, lshRecall, commonSpans, exactSubstrSpansQ, exactSubstrDedupQ, noveltyScoreQ, merkleRootQ, merkleDiffQ, sftTurns, sftCheck, prefPairs, fimSplitQ, ictPairsQ, incrementalDedup, incrementalDedupIdx, dedupIdxCompact, corpusStats, zipfFitQ, codeQualityQ, textQuality, langId, qualityScore, tokenCounts, tokenBudget, htmlStrip, htmlTablesQ, boilerplateBlocks, mainContentQ, fingerprints, topTerms,
    tfidfTerms, bm25Scores, bm25IndexSearch, bm25IndexIncr, chunkTextQ, cdcChunksQ, corpusDiff, repetition, piiRedact, piiLuhn, hashSplit, packChunks, packChunksSharded, stratifiedSample, targetMix, docSample, ppsSample, epochShuffle,
    curationDispositions, decontaminate, deconBloom, deconBloomIdx, deconOverlap, curationFunnel, pipelineE2e, pipelineE2eSub,
    embedTopK, textEmbedTopK, hardNegativesQ, rrfFusion, embedAnn, embedNearDups, embedNearDupsSalted, embedRecall, embedIvf, embedIvfFit, embedIvfIdx, embedQuant, kcenterSeedsQ, embedPq, embedIvfPq, embedIvfPqIdx, semanticDedup, mediaMeta, mediaFrames, mediaPdqDups,
    mediaPdqCompute, mediaPdqComputeDups, mediaResize, imageStatsQ, mediaGifPdq, mediaAviPdq, mediaWebpAnimPdq, mediaMp4Pdq, mp4Meta, mediaOffsetAlign, mediaShotCuts, mediaKeyframes, mediaClipHash, mediaClipDups, mediaTmkScore, mediaJpegPdq, mediaJpegProgPdq, mediaTiffPdq, mediaTiffDeepPdq, mediaWebpPdq, mediaWebpLossy, webmKeyframes, mediaExifPdq, mediaPdqDihedral, audioFingerprintQ, audioDups,
    mediaIndexClassify, mediaAvifDecode, mediaAvifPdq, archiveZipLzma
  )
}
