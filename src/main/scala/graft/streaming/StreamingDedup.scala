package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.plans.HammingKernelJoin

/** Streaming deduplication over unbounded inputs — the streaming twin of
  * [[graft.operators.Dedup]]. The reference engine is batch-only; this is
  * the north-star extension (SURVEY.md §2.10): the same normalized keys
  * (base url, canonical hash, shingle fingerprint) deduplicated
  * continuously with bounded state.
  *
  * Two tiers:
  *  - [[exactWithinWatermark]] — built-in
  *    `dropDuplicatesWithinWatermark`: exactly-once per key within the
  *    watermark horizon, state evicted automatically. The default.
  *  - [[firstSeenCounts]] — explicit `flatMapGroupsWithState` keeping a
  *    (first_seen_ts, count) per key with processing-time timeout:
  *    emits an update per batch with the running duplicate count —
  *    the shape needed when downstream wants dup statistics, not just
  *    suppression.
  *
  * State scale: both shapes key state by the dedup key, so state size
  * is O(distinct keys within horizon), never O(rows); at 100 TB/day the
  * watermark horizon is the knob that bounds executor state stores.
  */
object StreamingDedup {

  /** Drop rows whose `keys` were already seen within the watermark.
    * @param tsCol     event-time column used for the watermark
    * @param watermark e.g. "10 minutes" */
  def exactWithinWatermark(df: DataFrame, keys: Seq[String], tsCol: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Event-time sessionization via Spark's native `session_window` —
    * the streaming form of the batch `q_sessionize` gap rule. A session
    * extends while consecutive events arrive at most `gap` apart —
    * touching windows MERGE, so an exactly-`gap` quiet period still
    * extends the session and only `diff > gap` closes it (the
    * `q_sessionize` gap rule exactly; spec-pinned on the boundary).
    * State is bounded by
    * the watermark: closed sessions emit once and their state evicts.
    *
    * Runs unchanged on a batch frame (withWatermark is a no-op there),
    * so stream ≡ batch is spec-pinnable and the same code serves both.
    *
    * @param tsCol TIMESTAMP column (event time)
    * @return (keyCol, session_start epoch-sec, session_end epoch-sec
    *         [last event + gap], n_events) */
  def sessionAggregates(df: DataFrame, keyCol: String, tsCol: String,
      gap: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        unix_seconds(col("session_window.start")).as("session_start"),
        unix_seconds(col("session_window.end")).as("session_end"),
        col("n_events"))

  case class KeyState(firstSeenMs: Long, count: Long)
  case class DupCount(key: String, count: Long, first_seen_ms: Long)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  case class Member(index: String, w0: Long, w1: Long, w2: Long, w3: Long)
  /** NB this is the flatMapGroupsWithState state ENCODER schema: adding/
    * removing fields breaks restarts from checkpoints written by earlier
    * builds (Spark's state-store schema check rejects them). Changing it
    * requires a new checkpoint location — version fields here with that
    * cost in mind. `dropped` was added in round 3. */
  case class BandState(members: List[Member], dropped: Long = 0L)
  case class PdqMatch(index: String, partner: String, dist: Int)

  /** Streaming PDQ near-duplicate matching — the streaming twin of
    * [[graft.operators.PdqDuplicates]]'s banded join. Incoming
    * (index, hash) rows are banded exactly like the batch operator
    * (pigeonhole: dist ≤ n ⇒ some band identical), state is keyed by
    * (band_id, band value), and each arrival compares only against its
    * bucket's members — packed as four longs, so the compare is pure
    * xor+popcount. Emits BOTH directions of every match (the
    * reference's bidirectional contract).
    *
    * Caveats, by design: a pair agreeing in several bands emits once
    * per agreeing band (downstream `dropDuplicates` on
    * (index, partner) if exact-once matters), and state grows with the
    * distinct corpus per bucket — `maxBucketSize` caps pathological
    * buckets (viral/black-frame hashes) exactly where the batch
    * operator's distinct-hash collapse would; capped members still
    * match existing state but stop being stored, so LATER arrivals
    * cannot match them (results become arrival-order dependent past the
    * cap). That trip is NOT silent: every batch that drops members
    * logs a warning with the bucket key, the batch drop count, and the
    * bucket's cumulative total.
    *
    * Without a TTL, total state still grows with the number of distinct
    * buckets; pass `stateTtlMs > 0` for processing-time eviction of
    * idle buckets (matching horizon becomes the TTL — the streaming
    * analogue of a watermark). NB a timeout makes the engine schedule
    * recurring empty micro-batches to fire evictions — intended for
    * long-running production queries; it makes `processAllAvailable`
    * semantics awkward in tests/batch use (see [[firstSeenCounts]]).
    *
    * '''Checkpoint compatibility:''' the state schema ([[BandState]])
    * gained a `dropped` field in round 3. Spark's state-store schema
    * check rejects restarts from checkpoints written by earlier builds —
    * resuming an existing query across that upgrade requires a NEW
    * `checkpointLocation` (state, i.e. the matching corpus seen so far,
    * starts empty). Future state-schema changes carry the same cost.
    *
    * @param df (index: string, hash: string hex ≤ 64 chars)
    * @param stateTtlMs processing-time eviction horizon for idle
    *        buckets; 0 (default) keeps state indefinitely (NoTimeout)
    */
  def nearDupMatches(df: DataFrame, similarityThreshold: Double,
      maxBucketSize: Int = 100000, stateTtlMs: Long = 0L): Dataset[PdqMatch] = {
    import graft.functions.HashFunctions.{absoluteThreshold, canonicalHex64, hexBands, validateThreshold, PdqHashLength}
    validateThreshold(similarityThreshold)
    val n = absoluteThreshold(PdqHashLength, similarityThreshold)
    require(n < 64, s"banding requires radius < 64, got $n")
    val nBands = n + 1

    implicit val stateEnc: Encoder[BandState] = Encoders.product[BandState]
    implicit val outEnc: Encoder[PdqMatch] = Encoders.product[PdqMatch]
    implicit val rowEnc: Encoder[(String, String, String)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING)
    implicit val keyEnc: Encoder[String] = Encoders.STRING

    val banded = df
      .select(col("index"), canonicalHex64(col("hash")).as("ch"))
      .select(col("index"), col("ch"), explode(hexBands(col("ch"), nBands)).as("b"))
      .select(concat_ws(":", col("b.band_id"), col("b.band")).as("bkey"), col("index"), col("ch"))

    def toMember(idx: String, ch: String): Member =
      Member(idx, HammingKernelJoin.word(ch, 0), HammingKernelJoin.word(ch, 1),
        HammingKernelJoin.word(ch, 2), HammingKernelJoin.word(ch, 3))

    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    banded.as[(String, String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (bkey: String, rows: Iterator[(String, String, String)], state: GroupState[BandState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var members = state.getOption.map(_.members).getOrElse(Nil)
            var dropped = state.getOption.map(_.dropped).getOrElse(0L)
            var droppedThisBatch = 0L
            val out = List.newBuilder[PdqMatch]
            rows.foreach { case (_, idx, ch) =>
              val m = toMember(idx, ch)
              members.foreach { o =>
                if (o.index != idx) {
                  val d = HammingKernelJoin.distance(o.w0, o.w1, o.w2, o.w3, m.w0, m.w1, m.w2, m.w3)
                  if (d <= n) {
                    out += PdqMatch(idx, o.index, d)
                    out += PdqMatch(o.index, idx, d)
                  }
                }
              }
              if (members.lengthCompare(maxBucketSize) < 0) members = m :: members
              else { dropped += 1; droppedThisBatch += 1 }
            }
            if (droppedThisBatch > 0) log.warn(
              s"nearDupMatches bucket $bkey is full (maxBucketSize=$maxBucketSize): " +
                s"$droppedThisBatch member(s) dropped this batch, $dropped total — " +
                "later arrivals cannot match the dropped members")
            state.update(BandState(members, dropped))
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            out.result().iterator
          }
        })
  }

  /** Per-key running duplicate counts with timeout-evicted state.
    * Input must have a string `key` column and a long `event_ms` column
    * (pre-normalize upstream). Emits one [[DupCount]] per key per batch
    * in which the key appeared.
    *
    * @param timeoutMs processing-time state eviction horizon; pass 0 to
    *        disable (NoTimeout). NB with a timeout enabled the engine
    *        schedules recurring empty micro-batches to fire evictions —
    *        intended for long-running production queries, but it makes
    *        `processAllAvailable` semantics awkward in tests/batch use. */
  def firstSeenCounts(df: DataFrame, timeoutMs: Long = 3600000L): Dataset[DupCount] = {
    implicit val stateEnc: Encoder[KeyState] = Encoders.product[KeyState]
    implicit val outEnc: Encoder[DupCount] = Encoders.product[DupCount]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout

    df.select(col("key").cast("string"), col("event_ms").cast("long"))
      .as[(String, Long)](Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf)(
        (key: String, rows: Iterator[(String, Long)], state: GroupState[KeyState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = rows.toSeq
            val prev = state.getOption.getOrElse(KeyState(Long.MaxValue, 0L))
            val next = KeyState(
              math.min(prev.firstSeenMs, if (batch.isEmpty) Long.MaxValue else batch.map(_._2).min),
              prev.count + batch.size)
            state.update(next)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            Iterator.single(DupCount(key, next.count, next.firstSeenMs))
          }
        })
  }

  /** State per doc id: the distinct benchmark shingle hashes matched so
    * far — bounded by the doc's own benchmark collisions, NOT the
    * stream. Same encoder-schema caveat as [[BandState]]. */
  case class DeconState(hits: Array[Long])
  case class DeconHit(id: String, n_hits: Long)

  /** Stream documents INTO the persisted retrieval index: each
    * micro-batch appends one [[graft.operators.TextIndex]] shard via
    * `foreachBatch` — the batch tokenizes only itself, existing shards
    * never rewrite, and the manifest-last commit makes a crash
    * mid-batch invisible to readers (a retried batch reclaims its own
    * uncommitted shard id, so re-execution cannot double-index).
    * Search after any prefix of batches is bit-identical to the inline
    * BM25 over the documents delivered so far (StreamingDedupSpec pins
    * stream ≡ batch). Batches are appended in micro-batch order; an
    * empty batch appends nothing. At-least-once REDELIVERY of a
    * document would double its postings (like any append-only index) —
    * feed the stream through [[exactWithinWatermark]] first when the
    * source can redeliver.
    *
    * @return the started query (caller awaits/stops) */
  def indexAppendStream(docs: DataFrame, idCol: String, textCol: String,
      path: String, numBuckets: Int = 64,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val fs = new org.apache.hadoop.fs.Path(path)
            .getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
          if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/${graft.operators.TextIndex.ManifestFile}")))
            graft.operators.TextIndex.appendTextIndex(batch.toDF(), idCol, textCol, path)
          else
            graft.operators.TextIndex.writeTextIndex(batch.toDF(), idCol, textCol, path, numBuckets)
        }
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Stream CDC batches INTO a versioned snapshot store with
    * EXACTLY-ONCE version commits under retries: micro-batch `b`
    * always targets version `baseVersion + 1 + b`, derived from the
    * engine's replay-stable batchId — so a crash-and-redeliver of the
    * same batch recomputes the SAME version. Commit is
    * [[graft.operators.Snapshots.writeVersion]]'s atomic manifest
    * create: the first attempt to finish wins; a retry (or a racing
    * duplicate) hits the immutability error for ITS OWN version id and
    * is treated as already-committed — idempotent success, not
    * failure. A crash after data staging but before the manifest
    * leaves an unreferenced nonce dir that no reader sees.
    *
    * Gap discipline: versions are contiguous from the base because
    * Structured Streaming batchIds are (0,1,2,...); an empty batch
    * still commits its version (a merge with no changes) so replay
    * arithmetic never desynchronizes from history.
    *
    * @param baseVersion the committed version to build on (its value
    *        at START; the stream owns the path from then on) */
  def snapshotUpsertStream(cdc: DataFrame, path: String, keyCol: String,
      baseVersion: Long, opCol: String = "op",
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = cdc.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        upsertBatch(batch.toDF(), path, keyCol, baseVersion, opCol, batchId)
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** One [[snapshotUpsertStream]] micro-batch — package-visible so the
    * replay/idempotence contract is directly testable: calling it
    * twice with the same batchId must commit once and no-op once. */
  private[graft] def upsertBatch(batch: DataFrame, path: String, keyCol: String,
      baseVersion: Long, opCol: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val target = baseVersion + 1L + batchId
    val merged = graft.operators.Snapshots.mergeBatch(
      graft.operators.Snapshots.readVersion(spark, path, target - 1L),
      batch, keyCol, opCol)
    try graft.operators.Snapshots.writeVersion(merged, path, target)
    catch {
      case e: IllegalStateException if e.getMessage != null &&
          e.getMessage.contains("already committed") =>
        // replayed batch: its version is on disk — exactly-once, done
        ()
    }
  }

  /** Streaming benchmark decontamination — the stream-static twin of
    * [[graft.operators.Decontaminate.scan]]: each micro-batch of
    * (id, text) documents is scanned against a STATIC benchmark
    * shingle-hash relation (precompute once via
    * `Dedup.shingleHashRows(bench, ...).select("h").distinct()`).
    *
    * Shape: the per-document shingle explode and the stream-static
    * inner join are both stateless (no state store — Spark re-plans the
    * static side per batch), then ONE `flatMapGroupsWithState` keyed by
    * doc id keeps the SET of matched benchmark hashes. Keeping the set
    * (not a count) makes the result exact under at-least-once delivery:
    * a re-ingested document re-contributes the same hashes, the set
    * union is idempotent, and the count never inflates — matching the
    * batch scan's global (id, hash) distinct. State is O(ids with ≥ 1
    * collision × their collision count): clean documents never enter
    * the state store at all.
    *
    * Emits (id, n_hits) in UPDATE mode whenever a document's distinct
    * hit count grows to ≥ `minHits` — the streaming shape inverts the
    * batch contract (which reports every doc): unbounded streams report
    * offenders, not the complement. Ids surface as strings (the
    * typed-state key).
    *
    * @param stateTtlMs processing-time eviction horizon for idle doc
    *        states (mirroring [[nearDupMatches]]/[[firstSeenCounts]]):
    *        0 (default) keeps state indefinitely — exact under
    *        arbitrarily-late redelivery; with a TTL, a document
    *        redelivered AFTER its state evicted re-counts from zero
    *        (the bounded-state trade, same timeout caveats as
    *        [[firstSeenCounts]]).
    */
  def decontaminateStream(docs: DataFrame, benchShingleHashes: DataFrame,
      shingleLen: Int = 3, minHits: Int = 5, stateTtlMs: Long = 0L): Dataset[DeconHit] = {
    import graft.functions.TextFunctions.{portableHash60, shingles, words}
    implicit val stateEnc: Encoder[DeconState] = Encoders.product[DeconState]
    implicit val outEnc: Encoder[DeconHit] = Encoders.product[DeconHit]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    // the relational shingle builder (posexplode + window lead) is
    // batch-only — windows are unsupported on streams. The per-row fold
    // twin is map-only (stateless), and array_distinct makes (id, h)
    // unique within one document row without any state.
    val hs = docs.select(col("id"),
        explode(array_distinct(shingles(words(col("text")), shingleLen))).as("s"))
      .select(col("id").cast("string").as("id"), portableHash60(col("s")).as("h"))
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    hs.join(benchShingleHashes.select(col("h")), Seq("h"))
      .select(col("id"), col("h"))
      .as[(String, Long)](Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf)(
        (id: String, rows: Iterator[(String, Long)], state: GroupState[DeconState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.map(_.hits.toSet).getOrElse(Set.empty[Long])
            val next = prev ++ rows.map(_._2)
            if (next.size == prev.size) {
              // pure redelivery: no update — but re-arm the TTL (Spark
              // cancels any previously-set timeout on every invocation)
              if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
              Iterator.empty
            } else {
              state.update(DeconState(next.toArray.sorted))
              if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
              if (next.size >= minHits) Iterator.single(DeconHit(id, next.size.toLong))
              else Iterator.empty
            }
          }
        })
  }
}
