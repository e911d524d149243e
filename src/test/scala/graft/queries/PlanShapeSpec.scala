package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{MapPartitionsExec, RDDScanExec, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, QueryStageExec,
  ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.HashJoin

/** Physical-plan regression net: the scale story rests on specific plan
  * shapes (banded equi-joins instead of nested loops, broadcasts on
  * small sides, rank-limit pushdown, top-k without a total sort). A
  * refactor that silently degrades one of these still passes the value
  * oracles — these assertions catch the DEGRADATION, not the values.
  * Queries are built against sf0.001 (plan shape is scale-invariant;
  * AQE may re-plan at runtime, so assertions target the compile-time
  * executedPlan).
  */
class PlanShapeSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("banded/LSH pair joins never plan a cartesian/nested-loop product") {
    for (q <- Seq("minhash_lsh", "simhash_pairs", "pdq_dups_banded", "ngram_jaccard", "embed_ann")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q planned a BNLJ")
    }
  }

  test("embed_ivf: cell join is an equi-join; only centroid assignment is a broadcast product") {
    val p = plan("embed_ivf")
    assert(!p.contains("CartesianProduct")) // shuffle-side product never
    // the vector×centroid scoring is a BNLJ against a BROADCAST tiny
    // side (k centroids) — the intended plan; the corpus-cell candidate
    // join itself must be a hash equi-join
    assert(p.contains("BroadcastHashJoin"))
  }

  test("embed_pq: ADC join is a broadcast hash equi-join on (subspace, code); no product") {
    val p = plan("embed_pq")
    assert(!p.contains("CartesianProduct"), s"shuffle-side product planned:\n$p")
    // corpus code rows must equi-join the broadcast LUT — the corpus
    // side never meets raw vectors or a nested loop at scoring time
    assert(p.contains("BroadcastHashJoin"), s"no broadcast equi-join found:\n$p")
  }

  test("semantic_dedup: within-cell pair join is a hash equi-join, never a corpus product") {
    val p = plan("semantic_dedup")
    // the only products allowed are the k-row broadcast BNLJs of the
    // fit/assignment stages; the corpus-vs-corpus pair join must be an
    // equi-join on cell (a shuffle-side product would be all-pairs)
    assert(!p.contains("CartesianProduct"), s"corpus self-product planned:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no cell equi-join found:\n$p")
  }

  test("media_pdq_dups (threshold 1.0) is a hash equi-join, not all-pairs") {
    val p = plan("media_pdq_dups")
    // the forbidden shape is the all-pairs join: BNLJ or the broadcast
    // kernel (absent at n=0)
    assert(!p.contains("BroadcastNestedLoopJoin"), s"all-pairs θ-join planned:\n$p")
    assert(!p.contains("HammingKernelJoin"), s"all-pairs kernel planned:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no hash equi-join found:\n$p")
  }

  test("media_pdq_dihedral: variant-vs-orig match is a hash equi-join on the hex") {
    val p = plan("media_pdq_dihedral")
    assert(!p.contains("CartesianProduct"), s"product planned:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ planned:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no hash equi-join found:\n$p")
  }

  test("media hash computation is map-only up to the output sort") {
    for (q <- Seq("media_pdq_compute", "audio_fingerprint")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q planned a join:\n$p")
      // exactly the output-sort exchange and nothing else
      assert(p.split("Exchange").length <= 3, s"$q has extra shuffles:\n$p")
    }
  }

  test("decontaminate broadcasts the benchmark side") {
    assert(plan("decontaminate").contains("BroadcastHashJoin"))
  }

  test("embed_topk broadcasts the query side (corpus-side cartesian never happens)") {
    val p = plan("embed_topk")
    // the declared exact tier streams the corpus past a BROADCAST query
    // set — a BNLJ with a broadcast build side, never a shuffle-side
    // CartesianProduct
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("domain_cap pushes the rank limit below the shuffle (WindowGroupLimit)") {
    assert(plan("domain_cap").contains("WindowGroupLimit"))
  }

  test("top_terms plans TakeOrderedAndProject, never a total sort of the vocabulary") {
    val p = plan("top_terms")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("pdq_scale_30k runs the HammingKernelJoin kernel, not a BNLJ") {
    val p = plan("pdq_scale_30k")
    assert(p.contains("HammingKernelJoin") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("MapPartitions"), s"kernel planned as an opaque lambda:\n$p")
  }

  test("detect_full: Auto costs the distinct hashes and plans HammingKernelJoin") {
    val p = plan("detect_full")
    assert(p.contains("HammingKernelJoin") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("PDQ edge expansion streams the input's own partitions: no (index, chash) dedupe shuffle") {
    // PdqDuplicates.edges streams the Range itself; DetectDuplicates.edges
    // streams its checkpoint of the input, and no Range is left in its plan
    import org.apache.spark.sql.functions._
    // single-hash rows over 4 input partitions, 80 distinct hashes at
    // radius 5 (the kernel leg)
    val id = col("id")
    val base = concat(md5(floor(id / 50).cast("string")), md5(concat(floor(id / 50).cast("string"), lit("x"))))
    val h = when(id % 5 === 0, concat(substring(base, 1, 63),
      when(substring(base, 64, 1) === "0", "1").otherwise("0"))).otherwise(base)
    val input = spark.range(0, 4000, 1, 4).select(id.cast("string").as("index"), array(h).as("pdq_hash"))
    val frames = Seq(
      "PdqDuplicates.edges" -> graft.operators.PdqDuplicates.edges(input, similarityThreshold = 0.98,
        strategy = graft.operators.PdqDuplicates.Strategy.Auto, assumeFixed256 = true),
      "DetectDuplicates.edges" -> graft.operators.DetectDuplicates.edges(input, similarityThreshold = 0.98,
        method = "auto", assumeFixed256 = true))
    for ((name, df) <- frames) {
      assert(df.collect().length == 4000L * 49, name)
      val p = df.queryExecution.executedPlan
      val leaf: SparkPlan => Boolean =
        if (name == "DetectDuplicates.edges") _.isInstanceOf[RDDScanExec] else _.isInstanceOf[RangeExec]
      if (name == "DetectDuplicates.edges")
        assert(collect(p) { case r: RangeExec => r }.isEmpty, s"$name: a Range leaf in the final plan:\n$p")
      val pairDedupes = collect(p) { case a: HashAggregateExec => a }
        .filter(_.groupingExpressions.flatMap(_.references.map(_.name)).toSet == Set("index", "chash"))
      assert(pairDedupes.isEmpty, s"$name: (index, chash) aggregate in the final plan:\n$p")
      // the two expansion joins are the ones keyed on a hash column; each
      // streams the input with no exchange on the way down to the scan
      val expansions = collect(p) { case j: HashJoin if (j.leftKeys ++ j.rightKeys)
          .exists(_.references.exists(a => a.name == "phash" || a.name == "chash")) => j }
      assert(expansions.size == 2, s"$name:\n$p")
      for (j <- expansions) {
        val path = streamPath(j.asInstanceOf[SparkPlan])
        assert(leaf(path.last) && !path.exists(n =>
          n.isInstanceOf[Exchange] || n.isInstanceOf[ShuffleQueryStageExec] || n.isInstanceOf[AQEShuffleReadExec]),
          s"$name: the stream side of ${j.nodeName} is not the input's own partitions: " +
            s"${path.map(_.nodeName).mkString(" <- ")}\n$p")
      }
    }
  }

  /** Nodes from `p` down its stream side to a leaf: the streamed child
    * of each hash join, the only child of any other node. */
  private def streamPath(p: SparkPlan): List[SparkPlan] = p match {
    case j: HashJoin => p :: streamPath(if (j.buildSide == BuildLeft) j.right else j.left)
    case s: QueryStageExec => p :: streamPath(s.plan)
    case _ if p.children.isEmpty => p :: Nil
    case _ =>
      assert(p.children.size == 1, s"${p.nodeName} has ${p.children.size} children on the stream path")
      p :: streamPath(p.children.head)
  }

  test("kernel queries plan HammingKernelJoin, no MapPartitions lambda") {
    for (q <- Seq("pdq_scale_3k", "media_index_classify", "q_kernel_join")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val p = df.queryExecution.executedPlan
      assert(p.toString.contains("HammingKernelJoin"), s"$q planned no kernel node:\n$p")
      // media decode is a legitimate MapPartitions seam; no lambda may
      // read a hash column
      val hashLambdas = collect(p) { case m: MapPartitionsExec => m }
        .filter(_.child.children.exists(_.output.exists(a => a.name == "phash" || a.name == "chash")))
      assert(hashLambdas.isEmpty, s"$q runs a MapPartitions over hashes:\n$p")
      if (q != "media_index_classify") assert(!p.toString.contains("MapPartitions"), s"$q:\n$p")
    }
  }

  test("scans prune columns: repetition reads only (doc_id, text)") {
    val p = plan("repetition")
    val readSchemas = "ReadSchema: [^\n]*".r.findAllIn(p).toList
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(s => !s.contains("lang") && !s.contains("source")),
      s"repetition reads more columns than needed:\n${readSchemas.mkString("\n")}")
  }

  test("pack_chunks: one hash exchange (the pack-group window); no join, no extra shuffle") {
    val p = plan("pack_chunks")
    assert(!p.contains("Join"), s"packing must be join-free:\n$p")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashExchanges == 1, s"pack_chunks should shuffle once (group window), found $hashExchanges:\n$p")
  }

  test("pack_chunks_sharded: one exchange keyed on the sharded group; 48 distinct pack streams") {
    val p = plan("pack_chunks_sharded")
    assert(!p.contains("Join"), s"packing must be join-free:\n$p")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashExchanges == 1, s"should shuffle once (sharded-group window), found $hashExchanges:\n$p")
    // packChunks renames groupCol → `group`; the exchange must key on it
    // and the projection feeding it must carry the shard modulus (i.e.
    // the key is split×shard, not split alone)
    assert("hashpartitioning\\(group".r.findFirstIn(p).isDefined,
      s"window exchange must key on the pack group:\n$p")
    assert(p.contains("concat_ws") && p.contains("% 16"),
      s"pack group must be the sharded split×(bucket %% 16) key:\n$p")
    // the scale shape the scaladoc prescribes: up to 3 splits × 16 shards
    // pack streams — parallelism bound 48, not 3. The sf0.001 corpus is
    // too small to occupy every (split, shard) cell (val/test are 5% hash
    // tiers), so pin "well beyond split-only" rather than full occupancy.
    val groups = graft.queries.Pipeline.packChunksSharded
      .run(spark, dir).select("group").distinct().count()
    assert(groups > 16L && groups <= 48L, s"expected 16<streams<=48 pack streams, got $groups")
  }

  test("bm25_scores: term filter sits below the tf aggregate; no shuffle-side product") {
    val p = plan("bm25_scores")
    assert(!p.contains("CartesianProduct"), s"shuffle-side product planned:\n$p")
    // the corpus-wide explode is filtered to the literal term set (an
    // IN over the exploded word) before the tf shuffle — if the filter
    // disappears the shuffle carries the whole corpus vocabulary
    assert("IN \\(spark,window,vector,stream\\)".r.findFirstIn(p).isDefined,
      s"literal term IN-filter missing from plan:\n$p")
  }

  test("epoch_shuffle: one hash exchange (the shard window); no join") {
    val p = plan("epoch_shuffle")
    assert(!p.contains("Join"), s"epoch shuffle must be join-free:\n$p")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashExchanges == 1, s"epoch_shuffle should shuffle once (shard window), found $hashExchanges:\n$p")
  }

  test("stratified_sample: map-only — no exchange besides the gate's output sort") {
    val p = plan("stratified_sample")
    assert(!p.contains("hashpartitioning"), s"stratified sample must not shuffle:\n$p")
    assert(!p.contains("Join"))
  }

  test("tfidf_terms pushes the per-doc rank limit below the shuffle (WindowGroupLimit)") {
    assert(plan("tfidf_terms").contains("WindowGroupLimit"))
  }

  test("common_spans candidates come from an equi-join, never a product") {
    val p = plan("common_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ngram_jaccard_capped: equi-joins only, and verification never touches shingle arrays") {
    val p = plan("ngram_jaccard_capped")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // row-level verification: no array_intersect in the plan (the capped
    // tier counts shared rows instead of joining arrays back)
    assert(!p.contains("array_intersect"), s"array verification crept back in:\n$p")
  }

  test("incremental_dedup broadcasts the batch side; corpus never self-joins") {
    val p = plan("incremental_dedup")
    assert(p.contains("BroadcastHashJoin"), s"batch side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("incremental_dedup_idx classifies against the read index: batch broadcast, no product") {
    val p = plan("incremental_dedup_idx")
    assert(p.contains("BroadcastHashJoin"), s"batch side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("html_strip is map-only: no shuffle, no join, no UDF") {
    val p = plan("html_strip")
    assert(!p.contains("hashpartitioning"), s"html strip must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("UDF"))
  }

  test("token_budget is map-only: codegen'd vocab_token_count, no shuffle before the output sort") {
    val p = plan("token_budget")
    assert(p.contains("vocab_token_count"), s"native expression missing:\n$p")
    assert(!p.contains("hashpartitioning"), s"token counting must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("BatchEvalPython"))
  }

  test("fitCentroids' Lloyd round: assignment is a combinable aggregate, not a per-id sort window") {
    // the per-round frames materialize eagerly inside fitCentroids, so
    // pin the shape on the un-materialized round body itself
    import org.apache.spark.sql.functions._
    val e = graft.queries.Tables.tbl(spark, dir, "embeddings")
    val pts = e.select(col("vec_id").as("id"),
      transform(col("embedding"), x => x.cast("double")).as("vec"))
    val cent = pts.limit(4).select((col("id") % 4).as("centroid_id"), col("vec").as("ctr_vec"))
    val p = graft.operators.SimilaritySearch.lloydRound(pts, cent, dim = 64)
      .queryExecution.executedPlan.toString
    // argmax over centroids runs as partial_max(struct(...)) — map-side
    // combine; a row_number window here would sort-shuffle corpus×k rows
    assert(p.contains("partial_max(struct"), s"assignment argmax not map-side combinable:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"), s"window crept into the Lloyd round:\n$p")
  }

  test("url_dups computes members and checked flag in ONE window exchange") {
    // one shuffle for the window; the only other exchanges allowed are
    // AQE/final-output artifacts — fail if a second window-partitioning
    // exchange on base_url appears
    val p = plan("url_dups")
    val windowExchanges = "hashpartitioning\\(base_url".r.findAllIn(p).length
    assert(windowExchanges <= 2, s"url_dups re-shuffles base_url $windowExchanges times:\n$p")
  }

  test("c4_clean is map-only: the line rules never shuffle or join") {
    val p = plan("c4_clean")
    assert(!p.contains("hashpartitioning"), s"c4 cleaning must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("UDF"))
  }

  test("line_dedup: winner join is a hash equi-join; no window sort on the line hash") {
    val p = plan("line_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the skew-prone row_number-over-hash formulation must not return
    assert(!p.contains("Window"), s"line_dedup planned a window:\n$p")
  }

  test("line_dedup_skew: viral-key plan — combinable winner aggregate, no Window, no per-key sort") {
    val p = plan("line_dedup_skew")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the whole skew claim: a hot line hash must meet a map-side
    // combinable partial aggregate, never a row_number window (which
    // would sort every occurrence of the hot hash in one task)
    assert(!p.contains("Window"), s"line_dedup_skew planned a window:\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"winner aggregate missing:\n$p")
  }

  test("pdq_dups_skew: black-frame pathology — banding runs over DISTINCT hashes, no product") {
    val p = plan("pdq_dups_skew")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the mitigation shape: the band/verify tier reads the MATERIALIZED
    // distinct-hash relation (Scan ExistingRDD), so the ~20% identical
    // black-frame copies enter banding as ONE row; parquet appears only
    // in the re-attach branches (both edge orientations → ≤ 2 scans) —
    // banding over raw id rows would read parquet under every band
    // Generate instead
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      s"corpus must be scanned only by the re-attach branches:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"distinct-hash materialization missing below the band tier:\n$p")
  }

  test("lm_score: the model joins the scoring explode as a BROADCAST; no product") {
    val p = plan("lm_score")
    // the trigram explode must meet the model via BroadcastHashJoin (the
    // per-doc left join back to the corpus is the one legitimate
    // shuffle join); the 1-row V frame rides a broadcast product
    assert(p.contains("BroadcastHashJoin"), s"model must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("nb_quality / dsir_select: bucket model broadcasts into the scoring explode; no product") {
    for (q <- Seq("nb_quality", "dsir_select")) {
      val p = plan(q)
      // ≤ buckets+2 model rows must ride a BroadcastHashJoin against the
      // token explode; the only nested-loop products allowed are the
      // 1-row sentinel (default/prior) broadcasts
      assert(p.contains("BroadcastHashJoin"), s"$q: model must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: shuffle-side product:\n$p")
    }
  }

  test("dsir_select: global top-k plans TakeOrderedAndProject, not a total sort") {
    val p = plan("dsir_select")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not total-sort:\n$p")
  }

  test("nfc_text is map-only: no shuffle, no join, no UDF before the output sort") {
    val p = plan("nfc_text")
    assert(!p.contains("Exchange") || p.indexOf("Exchange") == p.lastIndexOf("Exchange"),
      s"nfc_text should shuffle at most for the output sort:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), s"UDF crept in:\n$p")
  }

  test("heavy_hitters: CMS probe phase is a pure expression — no join anywhere") {
    val p = plan("heavy_hitters")
    assert(!p.contains("Join"), s"the sketch must broadcast as a literal, not join:\n$p")
  }

  test("quality_calibrated: histogram joins back broadcast; no sort-merge") {
    val p = plan("quality_calibrated")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join back:\n$p")
    assert(!p.contains("SortMergeJoin"), s"doc-side sort crept in:\n$p")
  }

  test("entity_match: blocking passes are equi-joins; no product anywhere") {
    val p = plan("entity_match")
    assert(!p.contains("CartesianProduct"), s"entity_match planned a product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"entity_match planned a BNLJ:\n$p")
  }

  test("q_funnel: one data exchange — stacked windows + same-key agg reuse the partitioning") {
    val p = plan("q_funnel")
    // exactly two exchanges: the user_id hash partitioning and the
    // output-order range exchange; a third would mean the dependent
    // windows or the closing aggregate re-shuffled
    val n = "Exchange".r.findAllIn(p).length
    assert(n <= 2, s"expected <= 2 exchanges, got $n:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"), s"funnel must not join:\n$p")
  }

  test("q_range_join: bucketed rewrite is a hash equi-join — no BNLJ, no product") {
    val p = plan("q_range_join")
    assert(!p.contains("CartesianProduct"), s"range join planned a product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"range join planned a BNLJ:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no hash equi-join found:\n$p")
  }

  test("q_bucketed_join: zero hash exchanges — bucketing carries the join and the aggregate") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected an SMJ over the bucketed scans:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join/aggregate must not re-shuffle:\n$p")
    // one file per bucket + reported output ordering: the only Sort is
    // the presentation ORDER BY (above its range exchange)
    val sorts = "Sort \\[".r.findAllIn(p).length
    assert(sorts <= 1, s"expected <= 1 sort (presentation only), got $sorts:\n$p")
  }

  test("q_bloom_semi_reduce: the codegen Bloom probe filters the fact side below the join") {
    val p = plan("q_bloom_semi_reduce")
    assert(p.contains("bloom_might_contain"), s"Bloom probe missing from the plan:\n$p")
    // the probe must sit on the scan side, BEFORE the join
    val probeIdx = p.indexOf("bloom_might_contain")
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"probe not below the join (tree prints parents first):\n$p")
  }

  test("q_hamming_zero_join: the injected rule flips the distance-0 θ-join to a hash join") {
    // the shared test session has no extensions — attach the rule the
    // same way a user session would pick it up at runtime
    if (!spark.experimental.extraOptimizations.contains(graft.plans.HammingRadiusBandJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.HammingRadiusBandJoin
    val p = plan("q_hamming_zero_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"rule did not fire — BNLJ planned:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no hash equi-join found:\n$p")
  }

  test("q_hamming_radius_join: the band rule flips the radius θ-join to an equi-join") {
    if (!spark.experimental.extraOptimizations.contains(graft.plans.HammingRadiusBandJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.HammingRadiusBandJoin
    val p = plan("q_hamming_radius_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"band rule did not fire:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no band equi-join found:\n$p")
  }

  test("q_hamming_radius_join_pdq: the generalized rule flips a PDQ-radius (k=51) θ-join") {
    if (!spark.experimental.extraOptimizations.contains(graft.plans.HammingRadiusBandJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.HammingRadiusBandJoin
    val p = plan("q_hamming_radius_join_pdq")
    // the scale-aware group count joins a ONE-ROW scalar via a (fine)
    // nested-loop cross; the distance predicate itself must never sit
    // on a nested-loop join
    assert(!p.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && l.contains("hamming_distance")),
      s"band rule did not fire at k=51:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no band equi-join found:\n$p")
    // one Generate per side per length-partition branch (δl=0 ⋈ δr 0..D
    // and δl 1..D ⋈ δr=0) — each branch packs its (δ, band) entries into
    // a single exploded array, never a δ-stack
    assert("Generate".r.findAllIn(p).size == 4, s"band Generates:\n$p")
    assert(p.contains("Union"), s"length-partitioned branches missing:\n$p")
  }

  test("zorder_layout: the box query prunes z-prefix partition dirs") {
    val p = plan("zorder_layout")
    assert(p.contains("PartitionFilters") && p.contains("zp"),
      s"zp bounds must reach the scan as PartitionFilters:\n$p")
  }

  test("q_triangles: every join is a hash equi-join — no product at any of the three closure joins") {
    val p = plan("q_triangles")
    assert(!p.contains("CartesianProduct"), s"product planned:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ planned:\n$p")
  }

  test("mv_refresh: incremental MV refresh plans NO join — union + re-aggregate only") {
    val p = plan("mv_refresh")
    assert(!p.contains("Join"), s"IVM refresh must not join:\n$p")
  }

  test("corpus_merge / mergeBatch: the CDC winner is one combinable aggregate, no join, no window") {
    import spark.implicits._
    val cur = Seq((1L, "a")).toDF("k", "x")
    val chg = Seq((2L, "b", "upsert")).toDF("k", "x", "op")
    val p = graft.operators.Snapshots.mergeBatch(cur, chg, "k", validate = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"mergeBatch must not join:\n$p")
    assert(!p.contains("Window"), s"mergeBatch must not window:\n$p")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      s"winner must be a combinable aggregate:\n$p")
  }

  test("exact_median: candidate bucket joins back BROADCAST; no sort-merge against the data") {
    val p = plan("exact_median")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join-back found:\n$p")
    assert(!p.contains("SortMergeJoin"), s"data-side sort-merge planned:\n$p")
  }

  test("exact_ntile: histogram offsets broadcast; the data-row rank window partitions by bucket") {
    val p = plan("exact_ntile")
    assert(p.contains("BroadcastHashJoin"), s"histogram offsets not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"data-side sort-merge planned:\n$p")
    // the ONLY unpartitioned window runs over the <= nb-row histogram;
    // the data-row window must carry "partitionBy bucket" (hash exchange
    // on bucket right below the rank sort)
    assert(p.contains("hashpartitioning(bucket"),
      s"data rows must shuffle on bucket, not a single partition:\n$p")
  }

  test("ngram_jaccard_prefix: prefix candidates and verify joins are all hash equi-joins") {
    val p = plan("ngram_jaccard_prefix")
    assert(!p.contains("CartesianProduct"), s"planned a CartesianProduct:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"planned a BNLJ:\n$p")
  }

  test("q_tree_closure state joins stay hash equi-joins (no product per doubling round)") {
    val p = plan("q_tree_closure")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"doubling round planned a product:\n$p")
  }

  test("unigram_segment: the vocabulary joins BROADCAST onto the candidate pieces") {
    val p = plan("unigram_segment")
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"planned a product:\n$p")
  }

  test("q_kernel_join plans the custom Exec node — not a BNLJ over rows") {
    val p = plan("q_kernel_join")
    assert(p.contains("HammingKernelJoin"), s"custom operator not planned:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"fell back to a row-iterator BNLJ:\n$p")
  }

  test("curation_dispositions: membership joins carry ids only — no text column moves") {
    val df = graft.SparkEntry.queries("curation_dispositions")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the staged membership joins project (id, flag); the annotated
    // text/metrics stay on the funnel side of the plan
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"disposition joins planned a product:\n$p")
  }
}
