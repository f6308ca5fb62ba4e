package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.cache.SnapshotTable

/** Structured-Streaming surface. The reference has no stream engine
  * (SURVEY §2.12) — its closest notions are interval-scheduled batch
  * refresh and Arrow result streaming. These operators are the
  * Spark-native extension of that model:
  *
  *  - [[cursorAppendStream]]: the streaming form of an append-mode
  *    cache refresh — `readStream` over a growing file source, each
  *    micro-batch committed as an append snapshot via foreachBatch,
  *    `Trigger.AvailableNow` for catch-up-then-stop semantics (the
  *    scheduled-refresh replacement that never re-reads old files);
  *  - [[windowedEventCounts]]: event-time windowed aggregation with a
  *    watermark bounding state (late rows beyond the watermark are
  *    dropped, state for closed windows is evicted — the only design
  *    that survives an unbounded 100 TB/day event stream);
  *  - [[runningUserTotals]]: keyed custom state via mapGroupsWithState
  *    (running per-user aggregates across micro-batches, with a state
  *    timeout so idle keys age out instead of accreting forever).
  */
object Streaming {

  // ---- cursor-append cache ingestion ------------------------------------

  /** Stream new parquet files from `sourceDir` into `table` as append
    * snapshots: one snapshot per non-empty micro-batch. Returns the
    * started query (AvailableNow: processes what exists, then stops).
    * `refreshAppend` is NOT replay-idempotent (a re-appended batch
    * duplicates its rows), so replays after a restart are deduplicated
    * structurally by the [[BatchLedger]] — the same contract the other
    * non-idempotent sinks (MG/CMS merges, the corpus ingest loop)
    * carry; the residual crash-between-append-and-marker window is the
    * ledger's documented at-least-once trade. */
  def cursorAppendStream(
      spark: SparkSession,
      sourceDir: String,
      schemaSource: String,
      table: SnapshotTable,
      checkpointDir: String): StreamingQuery = {
    val schema = spark.read.parquet(schemaSource).schema
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = spark.sessionState.newHadoopConf())
    spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ledger.runOnce(batchId) {
          if (!batch.isEmpty) {
            table.refreshAppend(batch)
            ()
          }
        }
        ()
      }
      .start()
  }

  /** Stream delete-key files from `sourceDir` into `table` as
    * file-pruned delete snapshots — the continuous right-to-be-forgotten
    * path (a compliance topic drained on a schedule). One snapshot per
    * non-empty micro-batch; each batch prunes to the buckets its keys
    * can touch, so a sparse delete stream rewrites O(batch) dirs, not
    * the table. Deletes are idempotent (re-deleting an absent key is a
    * no-op version), so checkpoint replay after a crash is safe. */
  def deleteKeysStream(
      spark: SparkSession,
      sourceDir: String,
      schemaSource: String,
      primaryKeys: Seq[String],
      table: SnapshotTable,
      checkpointDir: String): StreamingQuery = {
    val schema = spark.read.parquet(schemaSource).schema
    spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          table.deleteByKeys(batch, primaryKeys)
          ()
        }
      }
      .start()
  }

  // ---- watermarked windowed aggregation ---------------------------------

  /** Event-time tumbling-window counts per event type with a watermark.
    * State is bounded: windows older than (max event time - watermark)
    * close and evict; later-arriving rows for them are dropped. */
  def windowedEventCounts(
      events: DataFrame,
      tsCol: String = "ts",
      typeCol: String = "event_type",
      windowLen: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(typeCol))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(
        col("window.start").as("window_start"),
        col(typeCol), col("n"), round(col("total"), 2).as("total"))

  /** Hopping (sliding) window counts — the streaming face of the
    * ev11_hopping_window batch operator: each event lands in
    * windowLen/slide overlapping windows (Catalyst expands the
    * membership map-side exactly as in batch, so stream ≡ batch on the
    * same rows — parity-locked in StreamingSpec). State is bounded the
    * same way as the tumbling form: a window evicts once the watermark
    * passes its end, and the number of OPEN windows per type is
    * (windowLen + watermark) / slide — constant, independent of stream
    * length. */
  def hoppingEventCounts(
      events: DataFrame,
      tsCol: String = "ts",
      typeCol: String = "event_type",
      windowLen: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(typeCol))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(
        col("window.start").as("window_start"),
        col(typeCol), col("n"), round(col("total"), 2).as("total"))

  // ---- streaming exact dedup ----------------------------------------------

  /** Streaming face of the dedup family: drop rows whose key was
    * already seen, with dedup state bounded by the watermark —
    * `dropDuplicatesWithinWatermark` evicts keys once the watermark
    * passes them, so state is proportional to the watermark window,
    * never the stream's history. The keyed column should be a content
    * digest (sha2 of the payload) like the batch dedup_exact entry, so
    * the state per key is one small hash. At 100 TB/day this is the
    * only shape that runs forever; a plain dropDuplicates would grow
    * state without bound. */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  // ---- streaming incremental NEAR-dup (vs a standing corpus) -------------

  /** Streaming face of the batch incremental-dedup operator
    * ([[graft.queries.CorpusOpsQueries]]): the standing corpus's
    * MinHash band index is a PRECOMPUTED static artifact (refreshed
    * like a snapshot cache, never rebuilt per batch); each incoming
    * micro-batch of (doc_id, text) is shingled + banded map-side with
    * the batch path's exact kernels, hash-joined against the index,
    * exact-Jaccard verified, and its per-doc match summary handed to
    * `sink`. `Trigger.AvailableNow` gives catch-up-then-stop
    * semantics. State is bounded by the micro-batch: the standing
    * side is static and the incoming side never outlives its batch —
    * no unbounded streaming state, the only shape that survives a
    * continuous 100 TB crawl. A doc's full match set lives in the one
    * batch that carries the doc, so the union of per-batch sinks over
    * ANY micro-batch split equals the batch operator's output
    * (parity-locked in StreamingSpec). */
  def incrementalDedupStream(
      incoming: DataFrame,
      standingSh: DataFrame,
      standingBands: DataFrame,
      checkpointDir: String)(sink: DataFrame => Unit): StreamingQuery =
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // micro-batch frames run on a cloned session: make sure the
          // native functions (minhash_sig) resolve there too
          graft.functions.GraftFunctions.install(batch.sparkSession)
          sink(graft.queries.CorpusOpsQueries.matchesVsStanding(
            graft.queries.TextQueries.shingleSetsOf(batch),
            standingBands, standingSh))
        }
      }
      .start()

  /** Streaming quality gate — the classifier scoring stage run INSIDE
    * the ingest loop: each micro-batch of (doc_id, text) scores with
    * the same deterministic md5 term weights as the gated batch
    * `quality_classifier_score` (keep ⟺ milli-score sum ≥ 0) and
    * routes the scored docs to the accept/reject sinks — the
    * quarantine split a production crawl applies before anything
    * expensive (dedup state, embedding) touches a rejected document.
    * The stage is STATELESS map-side work (per-doc score, no
    * cross-batch memory), so routing parity with the batch decision
    * holds over ANY micro-batch split (StreamingSpec locks it) and at
    * 100 TB/day the stage adds zero streaming state — the stateful
    * stages (dedup, sketches) stay the scale limiters, unchanged.
    *
    * Delivery contract: AT-LEAST-ONCE per route, like the
    * snapshot-append stream — foreachBatch replays a failed batch, and
    * accept/reject are two separate sink calls, so a crash BETWEEN
    * them re-delivers the batch's accepted docs on replay. Sinks must
    * be idempotent on (batch, doc_id) — an upsert/dedup-on-ingest
    * sink, not a blind append — exactly as the reference's sync
    * pipeline assumes of its cache writers. */
  def qualityRouterStream(
      incoming: DataFrame,
      checkpointDir: String,
      thresholdMilli: Long = 0L)(
      accept: DataFrame => Unit, reject: DataFrame => Unit): StreamingQuery =
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // threshold is the deployment's routing knob (tightened as
          // capacity shrinks); thresholdMilli=0 is the batch query's
          // keep rule exactly. persist() pays the scoring groupBy
          // shuffle ONCE for the two route filters (r10 ADVICE —
          // unpersisted, each filter re-ran the aggregation).
          val scored = graft.queries.TextQueries.classifierScored(batch).persist()
          try {
            accept(scored.filter(col("score_m") >= thresholdMilli))
            reject(scored.filter(col("score_m") < thresholdMilli))
          } finally { scored.unpersist(); () }
        }
      }
      .start()

  /** Routing-threshold calibration (r10 verdict #7): the shipped
    * default threshold 0 rejects NOTHING on corpora whose scores skew
    * positive (this synthetic corpus's md5 term weights score every
    * document ≥ 0) — a deployment calibrates the knob against a
    * CALIBRATION BATCH to hit a target rejection budget instead.
    * Returns the `rejectFraction`-quantile of the batch's classifier
    * scores: routing `score_m < threshold` then rejects ≈ that
    * fraction (at most — ties at the quantile value route to accept).
    * approx_percentile keeps the calibration one bounded-state pass at
    * any batch size (no sort, no collect); StreamingSpec locks a
    * non-degenerate measured rejection rate against it. */
  def calibrateQualityThreshold(calibration: DataFrame,
      rejectFraction: Double): Long = {
    require(rejectFraction > 0.0 && rejectFraction < 1.0,
      s"rejectFraction must be in (0, 1): $rejectFraction")
    val row = graft.queries.TextQueries.classifierScored(calibration)
      .agg(org.apache.spark.sql.functions
        .percentile_approx(col("score_m"), lit(rejectFraction), lit(10000)))
      .collect()(0)
    // percentile over zero rows is NULL — name the real problem instead
    // of the bare NPE getLong would raise
    require(!row.isNullAt(0),
      "calibrateQualityThreshold: calibration batch scored no documents " +
        "(empty or all-empty-text input)")
    row.getLong(0)
  }

  /** Streaming ANN-index ingest: each micro-batch of raw vectors
    * (vec_id, label, embedding FLOAT[]) is coded with `baseDir`'s
    * FROZEN quantizers (seed cells + trained 4/8-bit PQ books — the
    * coder the batch index build uses) and APPENDED into the standing
    * cell-partitioned index, so a probe's pruned `cell IN (…)` scan
    * covers new vectors on its next build — the served frames memoize
    * per index-root GENERATION (AnnIndexStore.probeCodes folds the
    * root's listing digest into the key), so an append invalidates a
    * warm session's standing frame instead of being silently pinned
    * out by it. This is how a
    * continuous 100 TB/day embedding ingest keeps the served index
    * current without rebuilds: coding is pure map-side (quantizer
    * literals folded into the projection — zero shuffles per batch,
    * zero streaming state), the write is an append into existing
    * partition directories, and re-training/compaction stay scheduled
    * maintenance (CacheManager.compactAll's discipline), not ingest
    * work. Delivery is at-least-once (AnnIndexStore.appendBatch's
    * contract): replayed batches re-append, dedup is keep-latest on
    * vec_id at read or compaction. */
  def annIndexIngestStream(
      incoming: DataFrame,
      checkpointDir: String,
      baseDir: String)(onBatch: Long => Unit = _ => ()): StreamingQuery = {
    // resolve the standing index + quantizers ON THE DRIVER SESSION at
    // stream construction: micro-batches run on a cloned session whose
    // memos are empty — resolving there would train a second set of
    // quantizers and append into a second index under the clone's
    // session token
    val outer = incoming.sparkSession
    val path = graft.operators.AnnIndexStore.ensure(outer, baseDir)
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.functions.GraftFunctions.install(batch.sparkSession)
          graft.operators.AnnIndexStore.appendBatch(path,
            graft.queries.EmbeddingQueries.codeBatch(outer, baseDir,
              graft.queries.EmbeddingQueries.prepBatch(batch)))
          onBatch(batchId)
        }
      }
      .start()
  }

  /** Streaming Count-Min sketch build: each micro-batch of (…, text)
    * contributes a PARTIAL sketch — the exact (i, b) → count frame the
    * gated batch entry builds ([[graft.queries.TextQueries
    * .cmsPartialOf]]) — and the standing sketch is their cell-wise
    * sum, because CMS's defining property is mergeability by addition.
    * That makes the streaming state trivially bounded: the standing
    * artifact is d×w integers REGARDLESS of stream length, each batch
    * ships at most d×w partial cells, and the merge is associative +
    * commutative so replays/out-of-order batches cannot corrupt it.
    * This is how a continuous 100 TB ingest keeps live heavy-hitter
    * counts without ever re-scanning the corpus (parity with the
    * batch sketch over any micro-batch split is locked in
    * StreamingSpec).
    *
    * The additive merge is NOT replay-idempotent, so replays after a
    * restart are deduplicated STRUCTURALLY by a [[BatchLedger]] inside
    * the checkpoint dir (r11 verdict: the discipline was caller
    * documentation before; now a replayed committed batch is skipped
    * before `mergePartial` is ever invoked). */
  def cmsSketchStream(
      incoming: DataFrame,
      checkpointDir: String)(mergePartial: DataFrame => Unit): StreamingQuery = {
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = incoming.sparkSession.sessionState.newHadoopConf())
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ledger.runOnce(batchId) {
          if (!batch.isEmpty) {
            graft.functions.GraftFunctions.install(batch.sparkSession)
            mergePartial(graft.queries.TextQueries.cmsPartialOf(batch))
          }
        }
        ()
      }
      .start()
  }

  /** Incremental materialized-aggregate maintenance — the keyed
    * rollup generalization of the sketch-merge family: a standing
    * per-key (n, sum, min, max) table is updated per micro-batch by
    * MERGING batch partials (counts/sums ADD, min/max MONOTONE) into
    * the snapshot table, so the serving rollup is always current
    * WITHOUT ever recomputing over history — the incremental
    * materialized view every 100 TB metrics pipeline maintains
    * (recomputing a corpus-wide groupBy per refresh is the thing this
    * replaces; per batch the work is one batch-sized partial agg plus
    * a key-cardinality merge, independent of stream length).
    *
    * The additive components make the merge NON-idempotent, so replay
    * dedup is structural via [[BatchLedger]] (the MG/CMS discipline):
    * a restart-replayed committed batch never re-merges. The merge +
    * snapshot commit are not one transaction — the residual
    * crash-between window is the ledger's documented at-least-once
    * trade. Sums run over exact BIGINT cents (a double running sum
    * would drift order-dependently); the bound is 2^63 cents per key
    * (~9.2e16 dollars) — beyond any revenue stream, and stated here
    * rather than papered over with a DECIMAL hoist the consumer
    * schema would have to carry. Each publish expires superseded
    * snapshots down to a 2-deep history, so disk and manifest stay
    * key-cardinality-sized at any stream length (review catch: an
    * unexpired refreshFull per batch accretes one full table copy per
    * batch). StreamingSpec proves standing ≡ full recompute over any
    * micro-batch split AND after a forced replay. */
  def aggMaintenanceStream(
      incoming: DataFrame,
      table: SnapshotTable,
      checkpointDir: String,
      keyCol: String = "event_type",
      valueCol: String = "value"): StreamingQuery = {
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = incoming.sparkSession.sessionState.newHadoopConf())
    def partials(df: DataFrame) = df
      .select(col(keyCol).as("k"),
        expr(s"CAST(round($valueCol * 100) AS BIGINT)").as("cents"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ledger.runOnce(batchId) {
          if (!batch.isEmpty) {
            val p = partials(batch)
            val merged =
              if (table.currentSnapshotId.isEmpty) p
              else table.read().unionByName(p)
                .groupBy("k")
                .agg(sum("n").as("n"), sum("sum_cents").as("sum_cents"),
                  min("min_cents").as("min_cents"),
                  max("max_cents").as("max_cents"))
            // key-cardinality frame; localCheckpoint breaks the plan's
            // dependence on the table dir being rewritten underneath
            table.refreshFull(merged.localCheckpoint(true))
            // retention: keep current + one rollback version — without
            // this a per-batch refreshFull accretes a full table copy
            // per micro-batch forever
            table.expireSnapshots(keepLast = 2)
            ()
          }
        }
        ()
      }
      .start()
  }

  /** Streaming PSI drift monitor — ev23's streaming face and the
    * measurement tier's ingest-loop member: the event-type mix of
    * everything ingested so far is compared per micro-batch against a
    * FROZEN baseline distribution (the reference window a deployment
    * snapshots when the pipeline is known-good), with the Population
    * Stability Index in integer micro-units — the same ppm-quantized
    * discipline as the gated batch query (shares exclude types whose
    * quantized share is 0 on either side; PSI is undefined at p=0).
    * The caller receives (batchId, psi_micro, standing counts) after
    * every absorbed batch and owns the alert rule (the conventional
    * thresholds: 0.1 = drifting, 0.25 = shifted — 100 000 / 250 000
    * in micro-units).
    *
    * State is one count per event TYPE — type-cardinality, constant at
    * any stream length — PERSISTED as the [[BatchLedger]]'s payload:
    * the standing counts and the batch id commit in ONE atomic rename,
    * so a restart resumes the cumulative mix exactly (an in-memory
    * map next to a persistent ledger would skip a replayed batch whose
    * counts died with the old process — the r12 third-review catch),
    * and the crash-between-merge-and-marker window does not exist for
    * this consumer. The PSI arithmetic runs driver-side over ≤|types|
    * entries: integer ppm shares, one ln per type rounded to
    * micro-units — StreamingSpec locks parity with a direct
    * whole-stream computation over any split, a planted-drift alert
    * flip, and state survival across a forced restart-replay.
    *
    * Sensitivity caveat: this is the CUMULATIVE mix — after a long
    * healthy run, a late drift window moves the all-time shares only
    * marginally, so detection latency grows with stream age. For the
    * "is the RECENT window drifting" question use
    * [[windowedPsiMonitorStream]], which scores the trailing K
    * event-time windows against the same frozen baseline.
    *
    * Replay delivery (r12 ADVICE): a restart whose run only replays
    * already-committed batches still delivers the STANDING verdict —
    * a skipped replay re-emits from the persisted ledger state, so a
    * caller acting on the latest callback is never left silent after
    * a restart. */
  def psiMonitorStream(
      incoming: DataFrame,
      checkpointDir: String,
      baseline: Map[String, Long],
      typeCol: String = "event_type")(
      onBatch: (Long, Long, Map[String, Long]) => Unit): StreamingQuery = {
    require(baseline.values.sum > 0, "baseline distribution is empty")
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = incoming.sparkSession.sessionState.newHadoopConf())
    val standing = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    ledger.lastState().foreach(decodeCounts(_)
      .foreach { case (k, v) => standing.put(k, v); () })
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ran = ledger.runOnceStateful(batchId) {
          if (!batch.isEmpty) {
            batch.filter(col(typeCol).isNotNull)
              .groupBy(typeCol).count().collect()
              .foreach(r => standing.merge(r.getString(0), r.getLong(1), _ + _))
            val counts = {
              import scala.jdk.CollectionConverters._
              standing.asScala.toMap
            }
            onBatch(batchId, psiMicro(baseline, counts), counts)
          }
          import scala.jdk.CollectionConverters._
          encodeCounts(standing.asScala.toMap)
        }
        if (!ran) ledger.lastState().map(decodeCounts).foreach(counts =>
          onBatch(batchId, psiMicro(baseline, counts), counts))
        ()
      }
      .start()
  }

  /** Windowed PSI drift monitor — [[psiMonitorStream]]'s
    * late-drift-sensitive form (r12 verdict: the cumulative mix
    * DILUTES late drift — after months of healthy stream, a week of
    * hard drift barely moves the all-time shares). Events bucket into
    * event-time DAYS; the monitor keeps per-day type counts for the
    * trailing `trailingWindows` days plus the all-time cumulative
    * counts, and each absorbed batch reports BOTH statistics:
    * `psi_cumulative` (the all-time mix vs the frozen baseline —
    * unchanged semantics) and `psi_windowed` (the union of the
    * trailing K days vs the same baseline — the production "is the
    * recent window drifting" answer).
    *
    * State is bounded at |types| (cumulative) + |types|×K (windows):
    * days older than the trailing K are PRUNED per batch after their
    * counts were already absorbed into the cumulative map, so stream
    * AGE never grows the payload. Everything rides the
    * [[BatchLedger]] payload (id + state, one atomic rename — the
    * trio's restart-consistency discipline), and a skipped replay
    * re-emits the standing verdict from the persisted state.
    * Null timestamps/types are dropped like every monitor's key
    * filter. StreamingSpec plants drift confined to the final slice
    * of a long stream that cumulative PSI scores under the 0.1
    * "drifting" threshold while windowed PSI clears 0.25 "shifted". */
  def windowedPsiMonitorStream(
      incoming: DataFrame,
      checkpointDir: String,
      baseline: Map[String, Long],
      typeCol: String = "event_type",
      tsCol: String = "ts",
      trailingWindows: Int = 7)(
      onBatch: (Long, Long, Long, Map[String, Long]) => Unit): StreamingQuery = {
    require(baseline.values.sum > 0, "baseline distribution is empty")
    require(trailingWindows > 0, "trailingWindows must be positive")
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = incoming.sparkSession.sessionState.newHadoopConf())
    // composite-key map rides the shared counts codec:
    //   c|<type>        cumulative count
    //   w|<epochDay>|<type>  trailing-window count
    val cumulative = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val windows = new java.util.concurrent.ConcurrentHashMap[(Long, String), Long]()
    ledger.lastState().map(decodeWindowedPsi).foreach { case (c, w) =>
      c.foreach { case (k, v) => cumulative.put(k, v); () }
      w.foreach { case (k, v) => windows.put(k, v); () }
    }
    def snapshot(): (Map[String, Long], Map[(Long, String), Long]) = {
      import scala.jdk.CollectionConverters._
      (cumulative.asScala.toMap, windows.asScala.toMap)
    }
    def emit(batchId: Long, c: Map[String, Long],
        w: Map[(Long, String), Long]): Unit = {
      val recent = w.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
      onBatch(batchId, psiMicro(baseline, c), psiMicro(baseline, recent), c)
    }
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ran = ledger.runOnceStateful(batchId) {
          if (!batch.isEmpty) {
            var batchMaxDay = Long.MinValue
            batch
              .filter(col(typeCol).isNotNull && col(tsCol).isNotNull)
              .groupBy(
                // event-time day as an epoch-day long (datediff works
                // on TIMESTAMP and TIMESTAMP_NTZ alike — unix_micros
                // rejects NTZ parquet timestamps)
                datediff(to_date(col(tsCol)), lit("1970-01-01"))
                  .cast("long").as("d"),
                col(typeCol).as("t"))
              .count().collect()
              .foreach { r =>
                cumulative.merge(r.getString(1), r.getLong(2), _ + _)
                windows.merge((r.getLong(0), r.getString(1)), r.getLong(2), _ + _)
                if (r.getLong(0) > batchMaxDay) batchMaxDay = r.getLong(0)
              }
            // prune on a CALENDAR cutoff from the CURRENT BATCH's max
            // event-time day — the CUSUM monitor's fold semantics.
            // Trailing K DISTINCT data days would let months-old
            // healthy days survive an ingest gap and dilute "recent"
            // (first review catch); anchoring the cutoff on the GLOBAL
            // max would let one clock-skewed future-dated row evict
            // every real day forever (second review catch) — anchored
            // on each batch's own days, a poisoned batch disturbs the
            // window once and the next healthy drop restores it, with
            // the stray future day lingering as one bounded extra
            // entry. All evicted counts already live in the
            // cumulative map.
            if (batchMaxDay != Long.MinValue) {
              import scala.jdk.CollectionConverters._
              val cutoff = batchMaxDay - (trailingWindows - 1)
              windows.keySet.asScala.filter(_._1 < cutoff)
                .toSeq.foreach(windows.remove)
            }
            val (c, w) = snapshot()
            emit(batchId, c, w)
          }
          val (c, w) = snapshot()
          encodeWindowedPsi(c, w)
        }
        if (!ran) ledger.lastState().map(decodeWindowedPsi)
          .foreach { case (c, w) => emit(batchId, c, w) }
        ()
      }
      .start()
  }

  private[streaming] def encodeWindowedPsi(
      c: Map[String, Long], w: Map[(Long, String), Long]): Array[Byte] =
    encodeCounts(
      c.map { case (t, v) => s"c|$t" -> v } ++
        w.map { case ((d, t), v) => s"w|$d|$t" -> v })

  private[streaming] def decodeWindowedPsi(b: Array[Byte]):
      (Map[String, Long], Map[(Long, String), Long]) = {
    val all = decodeCounts(b)
    val c = all.collect {
      case (k, v) if k.startsWith("c|") => k.substring(2) -> v
      // a legacy psiMonitorStream payload carries BARE type keys (no
      // c|/w| prefixes) — migrate them as cumulative counts, the
      // decodeCusumState discipline, so a monitor moved from the
      // cumulative stream to the windowed one keeps its history
      // instead of silently reporting psi 0 (r14 advice)
      case (k, v) if !k.startsWith("c|") && !k.startsWith("w|") => k -> v
    }
    // type is the LAST field and keeps any embedded delimiter (limit-3
    // split) — day is a rendered long, always delimiter-free
    val w = all.collect { case (k, v) if k.startsWith("w|") =>
      val parts = k.split("\\|", 3)
      (parts(1).toLong, parts(2)) -> v
    }
    (c, w)
  }

  /** (string → long) map codec for ledger payloads — length-prefixed
    * raw UTF-8 (the writeUTF 64 KiB cap discipline), sorted keys for a
    * deterministic artifact. */
  private[streaming] def encodeCounts(m: Map[String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(m.size)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val kb = k.getBytes("UTF-8")
      out.writeInt(kb.length); out.write(kb); out.writeLong(v)
    }
    out.flush(); bos.toByteArray
  }

  private[streaming] def decodeCounts(b: Array[Byte]): Map[String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(b))
    val n = in.readInt()
    (0 until n).map { _ =>
      val len = in.readInt()
      val kb = new Array[Byte](len); in.readFully(kb)
      new String(kb, "UTF-8") -> in.readLong()
    }.toMap
  }

  /** Streaming CUSUM rate monitor — ev31's streaming face, the PSI
    * monitor's mate for the OTHER drift axis (PSI watches the type
    * MIX; this watches the arrival RATE): standing per-hour counts
    * accumulate across micro-batches, and after each batch the
    * one-sided CUSUM peak over the hourly series is recomputed with
    * the gated query's exact identity (S_i = P_i − min(0, min_{j≤i}
    * P_j) over the cross-multiplied centered prefix — μ never
    * divides). The caller receives (batchId, peak, detected) where
    * `detected` is the gated query's deterministic rule (peak >
    * 24·total ⟺ cumulative excess > 24 hourly means).
    *
    * State is BOUNDED BY THE HORIZON, not stream age (r12 verdict:
    * the all-hours form grew its payload, its per-batch fold, and —
    * worse — its detection DENOMINATOR linearly with stream age, so
    * the peak > 24·total rule got progressively deafer to late
    * bursts): per-hour counts are kept only for the trailing
    * `horizonHours` event-time hours; hours falling off the horizon
    * FOLD into a frozen (sum, n_hours) baseline, and once that
    * baseline exists the CUSUM runs over the horizon series centered
    * on the BASELINE mean (dev_i = n_base·cum_i − sum_base·i, exact
    * cross-multiplied — μ never divides) with the rule peak >
    * 24·sum_base ⟺ cumulative in-horizon excess > 24 baseline-hour
    * means. Before the stream outgrows the horizon the baseline is
    * empty and the arithmetic is exactly the gated ev31 identity over
    * the horizon series (self-centered) — the original semantics.
    * Sensitivity contract: the monitor detects bursts INSIDE the
    * horizon; a drift slower than the horizon length migrates into
    * the baseline and is the windowed-PSI/ev-tier batch checks' job.
    * Late events behind the horizon fold into the baseline sum
    * (raising μ — the conservative, non-alerting direction).
    *
    * Everything rides the [[BatchLedger]] payload (id + state in one
    * atomic rename); the payload is ≤ horizon+3 entries at ANY stream
    * age, and a skipped replay re-emits the standing verdict from the
    * persisted state. The per-batch recompute is an O(horizon) driver
    * fold, not a Spark job. StreamingSpec locks whole-stream parity
    * with the arithmetic over any split, a planted rate-burst flip,
    * and the year-long-stream bound: constant payload size AND an
    * in-horizon 5× burst still detected after a simulated year of
    * steady prior hours. */
  def cusumMonitorStream(
      incoming: DataFrame,
      checkpointDir: String,
      tsCol: String = "ts",
      horizonHours: Int = 720)(
      onBatch: (Long, Long, Boolean) => Unit): StreamingQuery = {
    require(horizonHours > 0, "horizonHours must be positive")
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = incoming.sparkSession.sessionState.newHadoopConf())
    val hours = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    // frozen baseline: (sum of folded hourly counts, folded hour count,
    // fold watermark — epoch-ms hour below which everything is folded)
    val frozen = new java.util.concurrent.atomic.AtomicReference[(Long, Long, Long)]((0L, 0L, Long.MinValue))
    ledger.lastState().map(decodeCusumState).foreach { case (f, h) =>
      frozen.set(f)
      h.foreach { case (k, v) => hours.put(k, v); () }
    }
    def verdict(f: (Long, Long, Long), series: Seq[Long]): (Long, Boolean) = {
      val (fSum, fN, _) = f
      if (fN == 0) {
        val (peak, total) = cusumPeak(series)
        (peak, peak > 24 * total)
      } else {
        val (peak, threshold) = cusumPeakVsBaseline(series, fSum, fN)
        (peak.min(BigInt(Long.MaxValue)).toLong, peak > threshold)
      }
    }
    def sortedSeries(): Seq[Long] = {
      import scala.jdk.CollectionConverters._
      hours.asScala.toSeq.sortBy(_._1).map(_._2)
    }
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ran = ledger.runOnceStateful(batchId) {
          if (!batch.isEmpty) {
            var (fSum, fN, fUpTo) = frozen.get()
            batch.select(date_trunc("hour", col(tsCol)).as("hr"))
              .filter(col("hr").isNotNull)
              .groupBy("hr").count().collect()
              .foreach { r =>
                val hr = r.getTimestamp(0).getTime
                if (hr < fUpTo) fSum += r.getLong(1) // late, behind the fold
                else { hours.merge(hr, r.getLong(1), _ + _); () }
              }
            // fold hours that fell off the horizon (ends at max hour)
            if (!hours.isEmpty) {
              import scala.jdk.CollectionConverters._
              val maxHr = hours.keySet.asScala.max
              val cutoff = maxHr - (horizonHours - 1) * 3600000L
              if (cutoff > fUpTo) {
                hours.keySet.asScala.filter(_ < cutoff).toSeq.foreach { hr =>
                  fSum += hours.remove(hr); fN += 1
                }
                fUpTo = cutoff
              }
            }
            frozen.set((fSum, fN, fUpTo))
            val (peak, det) = verdict(frozen.get(), sortedSeries())
            onBatch(batchId, peak, det)
          }
          import scala.jdk.CollectionConverters._
          encodeCusumState(frozen.get(), hours.asScala.toMap)
        }
        if (!ran) ledger.lastState().map(decodeCusumState)
          .foreach { case (f, h) =>
            val series = h.toSeq.sortBy(_._1).map(_._2)
            val (peak, det) = verdict(f, series)
            onBatch(batchId, peak, det)
          }
        ()
      }
      .start()
  }

  /** One-sided CUSUM peak of `series` centered on an EXTERNAL frozen
    * baseline mean μ = baseSum/baseN, exact cross-multiplied:
    * dev_i = baseN·cum_i − baseSum·i (units of baseN), peak = max
    * prefix-minus-running-min (the ev31 identity with external
    * centering). Returns (peak, threshold = 24·baseN·μ = 24·baseSum)
    * — detected ⟺ peak > threshold ⟺ in-horizon cumulative excess >
    * 24 baseline-hour means. BigInt: baseN grows with stream age, so
    * baseN·cum has no static Long bound to document. */
  private[streaming] def cusumPeakVsBaseline(
      series: Seq[Long], baseSum: Long, baseN: Long): (BigInt, BigInt) = {
    var cum = BigInt(0)
    var minDev = BigInt(0)
    var peak = BigInt(0)
    var i = BigInt(0)
    series.foreach { n =>
      cum += n; i += 1
      val dev = BigInt(baseN) * cum - BigInt(baseSum) * i
      if (dev - minDev > peak) peak = dev - minDev
      if (dev < minDev) minDev = dev
    }
    (peak, BigInt(24) * baseSum)
  }

  private[streaming] def encodeCusumState(
      frozen: (Long, Long, Long), hours: Map[Long, Long]): Array[Byte] =
    encodeCounts(
      Map("f|sum" -> frozen._1, "f|n" -> frozen._2, "f|upTo" -> frozen._3) ++
        hours.map { case (k, v) => s"h|$k" -> v })

  private[streaming] def decodeCusumState(b: Array[Byte]):
      ((Long, Long, Long), Map[Long, Long]) = {
    val all = decodeCounts(b)
    // legacy payloads (pre-horizon, bare-numeric hour keys) decode as
    // an empty baseline over the full series — semantics-preserving
    val hours = all.collect {
      case (k, v) if k.startsWith("h|") => k.substring(2).toLong -> v
      case (k, v) if k.nonEmpty && k.forall(c => c.isDigit || c == '-') =>
        k.toLong -> v
    }
    ((all.getOrElse("f|sum", 0L), all.getOrElse("f|n", 0L),
      all.getOrElse("f|upTo", Long.MinValue)), hours)
  }

  /** The ev31 identity over an hour-ordered count series: returns
    * (max one-sided CUSUM in n_hours·count units, total count). All
    * integer; BigInt-free because h·cum tops out at hours·total —
    * 720·(BIGINT total) clears Long until ~1.3e16 events/month. */
  private[streaming] def cusumPeak(series: Seq[Long]): (Long, Long) = {
    if (series.isEmpty) return (0L, 0L)
    val h = series.length.toLong
    val total = series.sum
    var cum = 0L
    var minDev = 0L // includes P_0 = 0
    var peak = 0L
    var i = 0L
    series.foreach { n =>
      cum += n; i += 1
      val dev = h * cum - total * i
      if (dev - minDev > peak) peak = dev - minDev
      if (dev < minDev) minDev = dev
    }
    (peak, total)
  }

  /** Streaming sample-ratio-mismatch monitor — ev24's streaming face,
    * completing the measurement trio (PSI = mix drift, CUSUM = rate
    * drift, SRM = assignment-integrity drift): per micro-batch the
    * standing per-variant DISTINCT-user sketches absorb the batch's
    * HLL partials (register-MAX merge — idempotent and commutative,
    * so unlike the additive monitors this one needs NO replay ledger,
    * the Bloom/HLL family's property), and the 1-df χ² statistic
    * (c−t)²/(c+t) is evaluated driver-side on the sketch estimates
    * against the 0.05 critical value. Exactness is the honest trade
    * vs the gated batch query: ev24's χ² is integer-exact over exact
    * distinct counts, which would need per-user state (unbounded);
    * the monitor holds TWO fixed-size sketches at any stream length
    * and pays the HLL ±2% error — fine for a guardrail whose action
    * is "stop trusting the A/B readout and run the exact batch
    * check". Variant assignment is the same md5 split as ev16/ev24,
    * so the monitor watches the same population. StreamingSpec locks
    * estimate parity with a whole-stream HLL computed in one batch
    * (same sketches ⟹ same estimate, split-invariant) and a planted
    * 3:1 imbalance flipping the verdict. */
  def srmMonitorStream(
      incoming: DataFrame,
      checkpointDir: String,
      userCol: String = "user_id")(
      onBatch: (Long, Long, Long, Boolean) => Unit): StreamingQuery = {
    // register-MAX makes re-absorbing a replayed batch harmless, but
    // the standing sketches still must SURVIVE a restart (an
    // in-process reference would silently reset the "cumulative
    // distinct users" to the post-restart window — the PSI monitor's
    // restart-consistency discipline), so they ride the ledger payload
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = incoming.sparkSession.sessionState.newHadoopConf())
    val standing = new java.util.concurrent.atomic.AtomicReference[
      (Array[Byte], Array[Byte])](
      ledger.lastState().map(decodeSketchPair).orNull)
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // runOnceStateful for the PERSISTENCE (id + sketches atomic),
        // not for dedup necessity — MAX-merge tolerates re-absorption
        val ran = ledger.runOnceStateful(batchId) {
          if (!batch.isEmpty) {
            val prev = Option(standing.get()).getOrElse((null, null))
            val s = batch.sparkSession
            // ONE Spark job: batch partials grouped per variant, the
            // standing sketches folded in as literals, union + estimate
            // in the same projection (the first spelling paid four
            // single-row collect jobs per batch — review catch)
            def lit2(b: Array[Byte]) =
              if (b == null) lit(null).cast("binary") else lit(b)
            val merged = batch
              .select(col(userCol).cast("long").as("u"))
              .filter(col("u").isNotNull)
              .withColumn("variant",
                expr(graft.queries.EventQueries.variantCaseSql()
                  .replace("user_id", "u")))
              .groupBy("variant").agg(expr("hll_sketch_agg(u)").as("sk"))
              .groupBy()
              .agg(
                max(when(col("variant") === "control", col("sk"))).as("cb"),
                max(when(col("variant") === "treatment", col("sk"))).as("tb"))
              .select(col("cb"), col("tb"),
                lit2(prev._1).as("pc"), lit2(prev._2).as("pt"))
              .selectExpr(
                "CASE WHEN pc IS NULL THEN cb WHEN cb IS NULL THEN pc " +
                  "ELSE hll_union(pc, cb) END AS csk",
                "CASE WHEN pt IS NULL THEN tb WHEN tb IS NULL THEN pt " +
                  "ELSE hll_union(pt, tb) END AS tsk")
              .selectExpr("csk", "tsk",
                "CASE WHEN csk IS NULL THEN 0L ELSE hll_sketch_estimate(csk) END AS c",
                "CASE WHEN tsk IS NULL THEN 0L ELSE hll_sketch_estimate(tsk) END AS t")
              .collect()(0)
            val next = (merged.getAs[Array[Byte]]("csk"),
              merged.getAs[Array[Byte]]("tsk"))
            standing.set(next)
            val (c, t) = (merged.getAs[Long]("c"), merged.getAs[Long]("t"))
            onBatch(batchId, c, t, srmDetected(c, t))
          }
          Option(standing.get()).map(encodeSketchPair)
            .getOrElse(Array.emptyByteArray)
        }
        // skipped replay still delivers the standing verdict (r12
        // ADVICE): one single-row estimate job over the persisted
        // sketches, so a restart that only replays committed batches
        // never completes silently
        if (!ran) ledger.lastState().map(decodeSketchPair).foreach { pair =>
          val (c, t) = estimateSketchPair(batch.sparkSession, pair)
          onBatch(batchId, c, t, srmDetected(c, t))
        }
        ()
      }
      .start()
  }

  // ---- standing-verdict readers (the serving surface's boot seed) --------
  //
  // Each monitor's WHOLE state rides its BatchLedger payload, so the
  // standing verdict is recoverable from the checkpoint alone — no
  // stream needs to run. graft.server.MonitorManager seeds its verdict
  // registry from these at boot (restart consistency: a server restart
  // with no new data still serves the last verdict), and refreshes
  // after each drain.

  /** Standing (batchId, psi_cumulative, psi_windowed, cumulative
    * counts) from a [[windowedPsiMonitorStream]] checkpoint, or None
    * when no batch has ever committed. */
  def windowedPsiStanding(spark: SparkSession, checkpointDir: String,
      baseline: Map[String, Long]): Option[(Long, Long, Long, Map[String, Long])] = {
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = spark.sessionState.newHadoopConf())
    ledger.lastState().map(decodeWindowedPsi).map { case (c, w) =>
      val recent = w.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
      (ledger.lastCommitted(), psiMicro(baseline, c), psiMicro(baseline, recent), c)
    }
  }

  /** Standing (batchId, peak, detected) from a [[cusumMonitorStream]]
    * checkpoint, or None when no batch has ever committed. */
  def cusumStanding(spark: SparkSession, checkpointDir: String): Option[(Long, Long, Boolean)] = {
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = spark.sessionState.newHadoopConf())
    ledger.lastState().map(decodeCusumState).map { case ((fSum, fN, _), h) =>
      val series = h.toSeq.sortBy(_._1).map(_._2)
      if (fN == 0) {
        val (peak, total) = cusumPeak(series)
        (ledger.lastCommitted(), peak, peak > 24 * total)
      } else {
        val (peak, threshold) = cusumPeakVsBaseline(series, fSum, fN)
        (ledger.lastCommitted(),
          peak.min(BigInt(Long.MaxValue)).toLong, peak > threshold)
      }
    }
  }

  /** Standing (batchId, control, treatment, detected) from an
    * [[srmMonitorStream]] checkpoint (one single-row estimate job),
    * or None when no batch has ever committed. */
  def srmStanding(spark: SparkSession, checkpointDir: String): Option[(Long, Long, Long, Boolean)] = {
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = spark.sessionState.newHadoopConf())
    ledger.lastState().map(decodeSketchPair).map { pair =>
      val (c, t) = estimateSketchPair(spark, pair)
      (ledger.lastCommitted(), c, t, srmDetected(c, t))
    }
  }

  /** Estimate (control, treatment) distinct counts off a persisted
    * sketch pair — ONE single-row projection job over the sketch
    * literals (null sketch = 0). Used for skipped-replay re-emission
    * and for seeding a serving surface's standing verdict at boot. */
  private[graft] def estimateSketchPair(spark: SparkSession,
      pair: (Array[Byte], Array[Byte])): (Long, Long) = {
    def lit2(b: Array[Byte]) =
      if (b == null) lit(null).cast("binary") else lit(b)
    val r = spark.range(1)
      .select(lit2(pair._1).as("csk"), lit2(pair._2).as("tsk"))
      .selectExpr(
        "CASE WHEN csk IS NULL THEN 0L ELSE hll_sketch_estimate(csk) END AS c",
        "CASE WHEN tsk IS NULL THEN 0L ELSE hll_sketch_estimate(tsk) END AS t")
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Two nullable byte arrays ⇄ one ledger payload (len-prefixed,
    * −1 = null). */
  private[streaming] def encodeSketchPair(p: (Array[Byte], Array[Byte])): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def w(b: Array[Byte]): Unit =
      if (b == null) out.writeInt(-1) else { out.writeInt(b.length); out.write(b) }
    w(p._1); w(p._2); out.flush(); bos.toByteArray
  }

  private[streaming] def decodeSketchPair(b: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(b))
    def r(): Array[Byte] = {
      val len = in.readInt()
      if (len < 0) null else { val a = new Array[Byte](len); in.readFully(a); a }
    }
    (r(), r())
  }

  /** ev24's exact-rational verdict on two counts: (c−t)²·10⁶ >
    * 3 841 459·(c+t) ⟺ χ²(1df) > 3.841459 at α = 0.05 — BigInt
    * cross-multiplied, no double ever enters. */
  private[streaming] def srmDetected(c: Long, t: Long): Boolean =
    c + t > 0 &&
      BigInt(c - t) * (c - t) * 1000000 > BigInt(3841459) * (c + t)

  /** Integer-micro-unit PSI between two count maps — the ev23
    * arithmetic verbatim (ppm-quantized shares, types with a 0 share
    * on either side excluded, one ln per type rounded to micro-units,
    * order-independent sum over the sorted type set). */
  private[streaming] def psiMicro(
      base: Map[String, Long], cur: Map[String, Long]): Long = {
    val bTot = base.values.sum
    val cTot = cur.values.sum
    if (bTot == 0 || cTot == 0) return 0L
    (base.keySet ++ cur.keySet).toSeq.sorted.map { t =>
      // BigInt cross-multiply: cnt·10⁶ clears Long past 9.2e12-row
      // counts — the ppm-hoist discipline, driver-side form
      val p1 = (BigInt(base.getOrElse(t, 0L)) * 1000000 / bTot).toLong
      val p2 = (BigInt(cur.getOrElse(t, 0L)) * 1000000 / cTot).toLong
      if (p1 > 0 && p2 > 0)
        math.round((p2 - p1) / 1000000.0 *
          math.log(p2.toDouble / p1) * 1000000.0)
      else 0L
    }.sum
  }

  /** Streaming quantile drift monitor — the measurement trio's FOURTH
    * axis (PSI = type mix, CUSUM = arrival rate, SRM = assignment
    * integrity; this = VALUE-DISTRIBUTION shift, e.g. document length
    * collapsing after an extractor regression): a standing
    * [[graft.functions.QDigest]] absorbs each micro-batch's partial
    * digest (nodewise-additive merge + recompress — the native
    * `qdigest` aggregate builds the partial map-side, so per batch
    * only a ≤ 3k-node summary reaches the driver), and the monitor
    * scores the ingested distribution against FROZEN baseline deciles:
    * drift_ppm = max over p of |digest-estimated rank of baseline
    * value v_p − p·100 000| in ppm of the ingested count. The alert
    * rule is drift_ppm > 150 000 — a 0.15 rank displacement, an order
    * of magnitude past the digest's own rank error (b/k = 20/2048 ≈
    * 10 000 ppm), so the sketch error cannot flip the verdict.
    *
    * Windowing (review catch — an all-time digest would re-introduce
    * the exact late-drift dilution the windowed PSI fixed: after a
    * year of healthy ingest, a week of collapsed lengths moves the
    * cumulative ranks by under 2%): the monitor keeps the per-batch
    * digests of the trailing `trailingBatches` ingest windows NEXT TO
    * the all-time cumulative digest, and reports BOTH statistics —
    * `drift_cumulative` (all-time, informational) and
    * `drift_windowed` (the trailing windows merged, the alerting
    * statistic). Under the catch-up-per-crawl-drop cadence every
    * ingest stream here runs, a batch IS an ingest window. State is
    * (trailingBatches + 1) digests — ≤ (K+1)·3k nodes at any stream
    * length — persisted as the [[BatchLedger]] payload (id + all
    * digests, one atomic rename); the additive merges make replay
    * dedup structural, and a skipped replay re-emits the standing
    * verdict. The per-batch statistic is an O(K·k) driver fold.
    * StreamingSpec locks a late planted value-scale shift flipping the
    * WINDOWED verdict while the cumulative statistic stays under
    * threshold, a steady stream staying quiet, and restart-replay
    * continuation. */
  def quantileMonitorStream(
      incoming: DataFrame,
      checkpointDir: String,
      baselineDeciles: Map[Int, Long],
      valueCol: String = "n_chars",
      k: Int = 2048,
      b: Int = 20,
      trailingBatches: Int = 4,
      // when set, each batch's digest is PERSISTED in the stored-summary
      // parquet form (the qdigest eval image incl. the (k, b) header,
      // one subdir per batch id — overwrite, so replays are idempotent)
      // and the standing cumulative digest is REBUILT through the
      // `qdigest_merge` SQL aggregate over the store instead of the
      // driver-side mergeInto: the stored-artifact deployment path
      // (sketch once, persist next to the data, roll up without
      // re-reading rows) running inside the served product. Appended
      // param (the positional-call discipline). Summaries are ≤ 3k
      // nodes per ingest window, so the per-batch rebuild scans
      // O(batches · k) rows — never the corpus.
      summaryStore: Option[String] = None)(
      onBatch: (Long, Long, Long, Boolean) => Unit): StreamingQuery = {
    require(baselineDeciles.nonEmpty, "baseline deciles are empty")
    require(baselineDeciles.keySet.forall(p => p >= 1 && p <= 9),
      s"baseline decile keys must be in 1..9: ${baselineDeciles.keySet}")
    require(trailingBatches > 0, "trailingBatches must be positive")
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = incoming.sparkSession.sessionState.newHadoopConf())
    val cumulative = scala.collection.mutable.HashMap.empty[Long, Long]
    val windowsQ = scala.collection.mutable.TreeMap.empty[Long, Map[Long, Long]]
    ledger.lastState().map(decodeQuantileState).foreach { case (c, w) =>
      c.foreach { case (id, cnt) => cumulative.update(id, cnt) }
      w.foreach { case (bid, d) => windowsQ.update(bid, d) }
    }
    def verdict(c: Map[Long, Long], w: collection.Map[Long, Map[Long, Long]]):
        (Long, Long, Boolean) =
      quantileWindowedVerdict(c, w, baselineDeciles, k, b)
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ran = ledger.runOnceStateful(batchId) {
          if (!batch.isEmpty) {
            graft.functions.GraftFunctions.install(batch.sparkSession)
            val part = graft.functions.QDigest.entriesOfRows(batch
              .select(col(valueCol).cast("long").as("v"))
              .filter(col("v").isNotNull)
              .agg(expr(s"qdigest(v, $k, $b)")).collect()(0)
              .getSeq[org.apache.spark.sql.Row](0))
            summaryStore match {
              case Some(store) =>
                val ss2 = batch.sparkSession
                import ss2.implicits._
                // persist this batch's summary (header first, then the
                // nodes — the exact qdigest eval image), then rebuild
                // the standing digest FROM the store via the SQL merge
                val stored = (graft.functions.QDigest.HeaderNode ->
                  graft.functions.QDigest.headerCount(k, b)) +:
                  part.toSeq.sortBy(_._1)
                Seq(Tuple1(stored)).toDF("qd")
                  .selectExpr(
                    "CAST(qd AS array<struct<node: bigint, cnt: bigint>>) AS qd")
                  .write.mode("overwrite").parquet(s"$store/batch_id=$batchId")
                cumulative.clear()
                graft.functions.QDigest.entriesOfRows(
                  ss2.read.parquet(store)
                    .agg(expr(s"qdigest_merge(qd, $k, $b)")).collect()(0)
                    .getSeq[org.apache.spark.sql.Row](0))
                  .foreach { case (id, c) => cumulative.update(id, c) }
              case None =>
                graft.functions.QDigest.mergeInto(cumulative, part, k, b)
            }
            windowsQ.update(batchId, part)
            while (windowsQ.size > trailingBatches)
              windowsQ.remove(windowsQ.firstKey)
            val (dc, dw, det) = verdict(cumulative.toMap, windowsQ)
            onBatch(batchId, dc, dw, det)
          }
          encodeQuantileState(cumulative.toMap, windowsQ.toMap)
        }
        if (!ran) ledger.lastState().map(decodeQuantileState)
          .foreach { case (c, w) =>
            val (dc, dw, det) = verdict(c, w)
            onBatch(batchId, dc, dw, det)
          }
        ()
      }
      .start()
  }

  /** (cumulative digest, batchId → window digest) ⇄ one ledger
    * payload: int window count, each (long batchId, len-prefixed
    * digest image), then the cumulative image. */
  private[streaming] def encodeQuantileState(
      c: Map[Long, Long], w: Map[Long, Map[Long, Long]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def img(d: Map[Long, Long]): Unit = {
      val bytes = graft.functions.QDigest.encode(d)
      out.writeInt(bytes.length); out.write(bytes)
    }
    out.writeInt(w.size)
    w.toSeq.sortBy(_._1).foreach { case (bid, d) => out.writeLong(bid); img(d) }
    img(c)
    out.flush(); bos.toByteArray
  }

  private[streaming] def decodeQuantileState(bytes: Array[Byte]):
      (Map[Long, Long], Map[Long, Map[Long, Long]]) = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    def img(): Map[Long, Long] = {
      val len = in.readInt()
      val b2 = new Array[Byte](len); in.readFully(b2)
      graft.functions.QDigest.decode(b2).toMap
    }
    val nw = in.readInt()
    val w = (0 until nw).map { _ => val bid = in.readLong(); bid -> img() }.toMap
    (img(), w)
  }

  /** (max ppm rank displacement of the baseline decile values under
    * the digest, verdict at the 0.15 threshold) — BigInt
    * cross-multiplied, order-independent over the sorted decile set. */
  private[graft] def quantileDrift(digest: Map[Long, Long], b: Int,
      baselineDeciles: Map[Int, Long]): (Long, Boolean) = {
    val n = graft.functions.QDigest.totalOf(digest)
    if (n == 0L) return (0L, false)
    val drift = baselineDeciles.toSeq.sorted.map { case (p, v) =>
      val rankPpm = (BigInt(graft.functions.QDigest
        .rankLowerBound(digest, b, v)) * 1000000 / n).toLong
      math.abs(rankPpm - p.toLong * 100000)
    }.max
    (drift, drift > 150000L)
  }

  /** (drift_cumulative, drift_windowed, detected) — the monitor's and
    * the standing reader's ONE verdict implementation (review catch:
    * the merge-then-score loop was duplicated and could drift). */
  private[streaming] def quantileWindowedVerdict(
      c: Map[Long, Long], w: collection.Map[Long, Map[Long, Long]],
      baselineDeciles: Map[Int, Long], k: Int, b: Int): (Long, Long, Boolean) = {
    val merged = scala.collection.mutable.HashMap.empty[Long, Long]
    w.values.foreach(graft.functions.QDigest.mergeInto(merged, _, k, b))
    val (dc, _) = quantileDrift(c, b, baselineDeciles)
    val (dw, det) = quantileDrift(merged.toMap, b, baselineDeciles)
    (dc, dw, det)
  }

  /** Standing (batchId, drift_cumulative, drift_windowed, detected)
    * from a [[quantileMonitorStream]] checkpoint — the boot-seed
    * reader. `k` is appended AFTER the pre-existing `b` (review catch:
    * inserting it before `b` would silently re-mean positional calls
    * that passed b). */
  def quantileStanding(spark: SparkSession, checkpointDir: String,
      baselineDeciles: Map[Int, Long], b: Int = 20, k: Int = 2048):
      Option[(Long, Long, Long, Boolean)] = {
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = spark.sessionState.newHadoopConf())
    ledger.lastState().map(decodeQuantileState).map { case (c, w) =>
      val (dc, dw, det) = quantileWindowedVerdict(c, w, baselineDeciles, k, b)
      (ledger.lastCommitted(), dc, dw, det)
    }
  }

  /** Streaming embedding-centroid drift monitor — the FIFTH drift
    * axis (mix / rate / assignment / value-distribution / EMBEDDING):
    * the ingest-loop face of the batch `embedding_centroid_drift`
    * query, watching for encoder regressions or shifted upstream
    * features BEFORE retrieval recall degrades. Per micro-batch, each
    * label's (count, Σ round(v·10⁶) per dimension) partial — exact
    * integers, additive merge — lands in the trailing-K ingest-window
    * state (the quantile monitor's windowing discipline: drift is a
    * RECENT question), and the verdict compares every label's windowed
    * centroid against a FROZEN baseline centroid with NO division:
    * Σ_d (S_wd·n_b − S_bd·n_w)² > thr²·n_w²·n_b² ⟺ ‖c_w − c_b‖ >
    * thr, cross-multiplied in BigInt (u6 units end to end — the
    * integer-determinism discipline; the batch query's rounded-double
    * form is the oracle-gated sibling). The reported statistic is the
    * max per-label displacement in micro-units (BigInt isqrt — exact
    * floor, no float path).
    *
    * State is |labels|·(dim+1) longs per window — bounded by label
    * cardinality, never stream length — riding the [[BatchLedger]]
    * payload; skipped replays re-emit the standing verdict.
    * StreamingSpec locks steady-quiet, a planted dimension-shift flip,
    * restart-replay exactness, and standing-reader parity. */
  def embeddingDriftMonitorStream(
      incoming: DataFrame,
      checkpointDir: String,
      baseline: Map[String, (Long, Array[Long])],
      labelCol: String = "label",
      vecCol: String = "embedding",
      thresholdU6: Long = 250000L,
      trailingBatches: Int = 4)(
      onBatch: (Long, Long, Boolean) => Unit): StreamingQuery = {
    require(baseline.nonEmpty, "baseline centroids are empty")
    require(baseline.values.forall(_._1 > 0), "baseline labels need counts")
    val dims = baseline.values.head._2.length
    require(baseline.values.forall(_._2.length == dims),
      "baseline centroid dimensions disagree")
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = incoming.sparkSession.sessionState.newHadoopConf())
    // batchId -> label -> (n, u6 dimension sums)
    val windowsE = scala.collection.mutable.TreeMap
      .empty[Long, Map[String, (Long, Array[Long])]]
    ledger.lastState().map(decodeEmbeddingState).foreach(_.foreach {
      case (bid, m) => windowsE.update(bid, m)
    })
    def verdict(w: collection.Map[Long, Map[String, (Long, Array[Long])]]):
        (Long, Boolean) =
      embeddingDrift(mergeEmbeddingWindows(w), baseline, thresholdU6)
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ran = ledger.runOnceStateful(batchId) {
          if (!batch.isEmpty) {
            val part = embeddingPartial(batch, labelCol, vecCol)
            if (part.nonEmpty) {
              windowsE.update(batchId, part)
              while (windowsE.size > trailingBatches)
                windowsE.remove(windowsE.firstKey)
            }
            val (drift, det) = verdict(windowsE)
            onBatch(batchId, drift, det)
          }
          encodeEmbeddingState(windowsE.toMap)
        }
        if (!ran) ledger.lastState().map(decodeEmbeddingState)
          .foreach { w =>
            val (drift, det) = verdict(w.toMap)
            onBatch(batchId, drift, det)
          }
        ()
      }
      .start()
  }

  /** (max per-label centroid displacement in u6 micro-units, verdict)
    * — BigInt cross-multiplied, division-free detection; the reported
    * magnitude uses an exact integer floor-sqrt. Labels absent from
    * either side are skipped (no baseline ⇒ nothing to drift FROM). */
  private[graft] def embeddingDrift(
      windowed: Map[String, (Long, Array[Long])],
      baseline: Map[String, (Long, Array[Long])],
      thresholdU6: Long): (Long, Boolean) = {
    var maxDrift = 0L
    var det = false
    baseline.toSeq.sortBy(_._1).foreach { case (l, (nb, sb)) =>
      windowed.get(l).filter(_._1 > 0).foreach { case (nw, sw) =>
        var sum2 = BigInt(0)
        var d = 0
        while (d < sb.length) {
          // ragged windowed vectors (an encoder rollout mid-stream)
          // zero-extend against the baseline's dimensionality
          val swd = if (d < sw.length) sw(d) else 0L
          val diff = BigInt(swd) * nb - BigInt(sb(d)) * nw
          sum2 += diff * diff
          d += 1
        }
        val denom = BigInt(nw) * nb
        if (sum2 > BigInt(thresholdU6) * thresholdU6 * denom * denom) det = true
        val drift = (bigIntSqrt(sum2) / denom).toLong
        if (drift > maxDrift) maxDrift = drift
      }
    }
    (maxDrift, det)
  }

  /** Exact integer floor square root — Newton on BigInt with the
    * STRICT-DECREASE termination rule: the `x == prev` form never
    * terminates when n = m²−1 (the iteration oscillates floor ↔
    * floor+1 — review catch, verified by simulation on 3, 8, 15, …);
    * iterating while the estimate strictly decreases is the standard
    * guaranteed-terminating form and lands exactly on ⌊√n⌋. */
  private[graft] def bigIntSqrt(n: BigInt): BigInt = {
    if (n <= 0) return BigInt(0)
    var x = BigInt(1) << ((n.bitLength + 1) / 2) // ≥ √n
    var y = (x + n / x) >> 1
    while (y < x) { x = y; y = (x + n / x) >> 1 }
    x
  }

  private[streaming] def encodeEmbeddingState(
      w: Map[Long, Map[String, (Long, Array[Long])]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(w.size)
    w.toSeq.sortBy(_._1).foreach { case (bid, m) =>
      out.writeLong(bid); out.writeInt(m.size)
      m.toSeq.sortBy(_._1).foreach { case (l, (n, s)) =>
        val lb = l.getBytes("UTF-8")
        out.writeInt(lb.length); out.write(lb)
        out.writeLong(n); out.writeInt(s.length)
        s.foreach(out.writeLong)
      }
    }
    out.flush(); bos.toByteArray
  }

  private[streaming] def decodeEmbeddingState(b: Array[Byte]):
      Map[Long, Map[String, (Long, Array[Long])]] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(b))
    val nw = in.readInt()
    (0 until nw).map { _ =>
      val bid = in.readLong()
      val nl = in.readInt()
      bid -> (0 until nl).map { _ =>
        val len = in.readInt()
        val lb = new Array[Byte](len); in.readFully(lb)
        val n = in.readLong()
        val ds = in.readInt()
        val s = Array.fill(ds)(in.readLong())
        new String(lb, "UTF-8") -> ((n, s))
      }.toMap
    }.toMap
  }

  /** Per-label (vector count, u6 dimension sums) of an embedding set —
    * THE shared aggregation for the monitor's per-batch partials AND
    * the frozen baseline ([[embeddingBaseline]]), one implementation
    * so stream and baseline cannot drift numerically (review catch —
    * they were verbatim copies). The vector COUNT comes from its own
    * pre-explode aggregate, not rows-per-(label, pos): with ragged
    * vector lengths (an encoder rollout mid-stream) the per-pos row
    * count differs by position and the last-iterated value was
    * nondeterministic (review catch); an all-null position sums to
    * NULL and contributes zero rather than NPE-ing the query. */
  private[streaming] def embeddingPartial(df: DataFrame,
      labelCol: String, vecCol: String): Map[String, (Long, Array[Long])] = {
    val prepped = df
      .filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).cast("string").as("l"),
        expr(s"transform($vecCol, x -> CAST(round(x * 1000000) AS BIGINT))")
          .as("v"))
    val counts = prepped.groupBy("l")
      .agg(count(lit(1)).cast("long").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    prepped.select(col("l"), posexplode(col("v")))
      .groupBy("l", "pos").agg(sum("col").as("s"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (l, rows) =>
        val dims = rows.map(_.getInt(1)).max + 1
        val s = new Array[Long](dims)
        rows.foreach { r =>
          if (!r.isNullAt(2)) s(r.getInt(1)) = r.getLong(2)
        }
        l -> ((counts.getOrElse(l, 0L), s))
      }
  }

  /** Per-label (count, u6 dimension sums) of a static embedding set —
    * the FROZEN baseline a deployment computes once from a known-good
    * window (one aggregation job; [[embeddingPartial]]'s arithmetic
    * exactly). */
  def embeddingBaseline(df: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"): Map[String, (Long, Array[Long])] =
    embeddingPartial(df, labelCol, vecCol)

  /** Merge trailing-window per-label partials (counts and sums ADD;
    * ragged dimensions zero-extend) — shared by the monitor's verdict
    * and the standing reader. */
  private[streaming] def mergeEmbeddingWindows(
      w: collection.Map[Long, Map[String, (Long, Array[Long])]]):
      Map[String, (Long, Array[Long])] = {
    val merged = scala.collection.mutable.HashMap.empty[String, (Long, Array[Long])]
    w.values.foreach(_.foreach { case (l, (n, s)) =>
      val (pn, ps) = merged.getOrElse(l, (0L, Array.emptyLongArray))
      val out = new Array[Long](math.max(ps.length, s.length))
      var d = 0
      while (d < out.length) {
        out(d) = (if (d < ps.length) ps(d) else 0L) +
          (if (d < s.length) s(d) else 0L)
        d += 1
      }
      merged.update(l, (pn + n, out))
    })
    merged.toMap
  }

  /** Standing (batchId, max drift u6, detected) from an
    * [[embeddingDriftMonitorStream]] checkpoint — the boot-seed
    * reader. */
  def embeddingDriftStanding(spark: SparkSession, checkpointDir: String,
      baseline: Map[String, (Long, Array[Long])],
      thresholdU6: Long = 250000L): Option[(Long, Long, Boolean)] = {
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = spark.sessionState.newHadoopConf())
    ledger.lastState().map(decodeEmbeddingState).map { w =>
      val (drift, det) = embeddingDrift(
        mergeEmbeddingWindows(w), baseline, thresholdU6)
      (ledger.lastCommitted(), drift, det)
    }
  }

  /** Streaming Misra–Gries maintenance — the fourth sketch-merge
    * family (CMS cells ADD, Bloom bits OR, HLL registers MAX, MG
    * summaries MERGE): each micro-batch's k-entry token summary (the
    * native mg_topk [[graft.functions.MisraGriesTopK]] aggregate,
    * installed on the micro-batch session by
    * [[graft.functions.GraftFunctions.install]]) is handed to the
    * caller, who absorbs it into a standing summary with
    * [[graft.functions.MisraGriesTopK.mergeInto]] — the
    * EXACT mergeable rule, so the no-false-negative guarantee (every
    * token over n/(k+1) of the WHOLE stream survives) holds at any
    * stream length while the artifact stays ≤ k entries. Unlike the
    * idempotent OR/MAX merges, MG's merge is NOT replay-idempotent —
    * re-merging a batch ADDS its counts again, pushing standing counts
    * ABOVE true frequencies (the overcount direction the algorithm
    * never produces). foreachBatch is at-least-once, so replays are
    * deduplicated STRUCTURALLY: a [[BatchLedger]] inside the
    * checkpoint dir skips already-committed batch ids BEFORE the
    * caller's merge runs (r11 ADVICE — previously this was a
    * documented caller obligation, so a caller omitting the check
    * silently overcounted). The callback keeps the batch id for
    * observability/audit; it no longer carries the dedup burden.
    * StreamingSpec proves a restart-replayed batch does not inflate
    * the standing counts. */
  def mgSummaryStream(
      incoming: DataFrame,
      checkpointDir: String,
      k: Int)(mergePartial: (Long, Map[String, Long]) => Unit): StreamingQuery = {
    val ledger = new BatchLedger(checkpointDir,
      hadoopConf = incoming.sparkSession.sessionState.newHadoopConf())
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ledger.runOnce(batchId) {
          if (!batch.isEmpty) {
            graft.functions.GraftFunctions.install(batch.sparkSession)
            val row = batch
              .select(explode(split(col("text"), " ")).as("term"))
              .agg(expr(s"mg_topk(term, $k)")).collect()(0)
            mergePartial(batchId, row.getSeq[org.apache.spark.sql.Row](0)
              .map(r => r.getString(0) -> r.getLong(1)).toMap)
          }
        }
        ()
      }
      .start()
  }

  /** Streaming Bloom-bitmap maintenance — the decontamination mate of
    * [[cmsSketchStream]]: as new benchmark/eval documents arrive, each
    * micro-batch contributes its distinct bit positions
    * ([[graft.queries.TextQueries.bloomPositionsOf]]) and the standing
    * m=65536 bitmap absorbs them by OR. The artifact is 8 KiB
    * REGARDLESS of how much reference material streams in, and OR is
    * idempotent + commutative — a replayed or out-of-order batch
    * re-sets the same bits, so the merge needs no replay bookkeeping
    * at all (stronger than the CMS additive merge, which relies on the
    * checkpoint for exactly-once). Parity with the batch bitmap over
    * any micro-batch split is locked in StreamingSpec. */
  def bloomRefStream(
      incoming: DataFrame,
      checkpointDir: String)(mergePositions: DataFrame => Unit): StreamingQuery =
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.functions.GraftFunctions.install(batch.sparkSession)
          mergePositions(graft.queries.TextQueries.bloomPositionsOf(batch))
        }
      }
      .start()

  /** Streaming per-day distinct-user sketches — the HLL member of the
    * sketch-merge family (CMS cells ADD, Bloom bits OR, HLL registers
    * MAX). Each micro-batch contributes per-day `hll_sketch_agg`
    * partials over its user ids; the standing per-day sketch absorbs
    * them with `hll_union`. Register merge is max-per-register —
    * idempotent AND commutative like the Bloom OR, so a replayed or
    * out-of-order batch re-asserts the same registers and the merge
    * needs no replay bookkeeping (stronger than the CMS additive
    * merge). The standing artifact is one fixed-size sketch per day
    * regardless of stream length — the scale path ev17's rolling WAU
    * reads instead of re-shuffling user ids per window. */
  def hllDailyStream(
      incoming: DataFrame,
      checkpointDir: String)(mergeSketches: DataFrame => Unit): StreamingQuery =
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          mergeSketches(batch
            .select(org.apache.spark.sql.functions
              .expr("CAST(date_trunc('day', ts) AS DATE)").as("d"),
              org.apache.spark.sql.functions.col("user_id"))
            .groupBy("d")
            .agg(org.apache.spark.sql.functions
              .expr("hll_sketch_agg(user_id)").as("sk")))
        }
      }
      .start()

  /** Streaming session-scoped transition matrix — ev9's streaming face,
    * the STATEFUL sibling of [[cmsSketchStream]]: the transition counts
    * merge by plain addition, but unlike the sketch each micro-batch
    * also needs the previous batch's last event per user (the session
    * FRONTIER) to count the one boundary transition the in-batch lag
    * cannot see. The caller owns both pieces of state — the standing
    * matrix (constant |types|²) and the frontier (one row per user) —
    * and applies [[graft.queries.EventQueries.transitionStep]] per
    * batch; this wrapper only sequences the micro-batches. Batches
    * must arrive event-time ordered per user (the cursor-append
    * contract); parity with the batch operator over any such split is
    * locked in StreamingSpec. */
  def transitionStream(
      incoming: DataFrame,
      checkpointDir: String)(step: DataFrame => Unit): StreamingQuery =
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) step(batch)
      }
      .start()

  /** Streaming SCD2 dimension build — ev8's streaming face, the
    * CDC-processing loop: each time-ordered micro-batch of change
    * events CLOSES the validity intervals it supersedes (appended
    * downstream, never revisited) and leaves exactly one open interval
    * per user as state. The caller owns the open-interval frontier and
    * applies [[graft.queries.EventQueries.scd2Step]] per batch; closed
    * intervals ∪ final frontier ≡ the batch operator over any
    * time-ordered split (StreamingSpec parity). Same sequencing
    * contract as [[transitionStream]]. */
  def scd2Stream(
      incoming: DataFrame,
      checkpointDir: String)(step: DataFrame => Unit): StreamingQuery =
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) step(batch)
      }
      .start()

  /** Continuous corpus ingestion — the CLOSED loop the incremental
    * operators build toward: per micro-batch of (doc_id, text),
    *
    *  1. match incoming docs against the standing corpus through its
    *     band-index snapshot table ([[graft.queries.CorpusOpsQueries
    *     .matchesVsCorpus]]: hash probe on the index, shingles
    *     recomputed only for candidate docs via a broadcast semi-join
    *     into the corpus scan);
    *  2. drop near-dup losers;
    *  3. append the survivors to the corpus TABLE and their bands to
    *     the index TABLE as snapshot commits —
    *
    * so batch N+1 deduplicates against everything batch N admitted,
    * without ever rebuilding the index or self-joining the corpus.
    * `Trigger.AvailableNow` makes each run catch-up-then-stop (the
    * production cadence: run per crawl drop, resume from the
    * checkpoint).
    *
    * Replay safety: foreachBatch REPLAYS a batch whose commit didn't
    * reach the streaming checkpoint, and `refreshAppend` is not
    * idempotent — a [[BatchLedger]] marker recording the last
    * fully-committed batch id (written AFTER both appends) makes a
    * completed batch's replay a no-op. The two appends commit INDEX
    * FIRST, deliberately:
    * a crash between them leaves "ghost" bands whose docs never
    * reached the corpus, and the replay self-heals — ghost candidates
    * cannot pass the exact verify (matchesVsCorpus inner-joins the
    * corpus for candidate shingles; no corpus row, no match), so the
    * batch's docs are admitted exactly once, and the redundant band
    * rows are idempotent under candidate generation's collect_set.
    * The reverse order would instead double-admit the batch into the
    * corpus on replay. Within-batch duplicates are the upstream
    * exact-dedup stage's job (the batch operator family), not
    * re-solved here. */
  def corpusIngestStream(
      incoming: DataFrame,
      corpus: SnapshotTable,
      index: SnapshotTable,
      checkpointDir: String): StreamingQuery = {
    val ledger = new BatchLedger(checkpointDir, "graft-ingest-committed",
      incoming.sparkSession.sessionState.newHadoopConf())
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ledger.runOnce(batchId) {
          if (!batch.isEmpty) {
            graft.functions.GraftFunctions.install(batch.sparkSession)
            // small per batch; three consumers (match, anti-join, bands)
            val docs = batch.localCheckpoint(true)
            val sh = graft.queries.TextQueries.shingleSetsOf(docs)
            // cold start: an unseeded table pair has nothing to match
            // against — the first batch IS the corpus
            val survivors = (if (index.currentSnapshotId.isEmpty ||
                corpus.currentSnapshotId.isEmpty) docs
              else {
                val losers = graft.queries.CorpusOpsQueries
                  .matchesVsCorpus(sh, index.read(), corpus.read())
                  .select(col("incoming_id").as("doc_id"))
                docs.join(broadcast(losers), Seq("doc_id"), "left_anti")
              }).localCheckpoint(true)
            if (!survivors.isEmpty) {
              index.refreshAppend(graft.queries.TextQueries.bandIndexOf(
                graft.queries.TextQueries.shingleSetsOf(survivors)))
              corpus.refreshAppend(survivors)
            }
          }
        }
        ()
      }
      .start()
  }

  // ---- custom keyed state ------------------------------------------------

  final case class UserEvent(user_id: Long, value: Double)
  final case class UserTotal(user_id: Long, events: Long, total: Double)

  // ---- streaming gap sessionization --------------------------------------

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  /** Open-session state in integer microseconds (same arithmetic as the
    * batch ev2_sessionize entry — no float/rounding drift possible). */
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  final case class ClosedSession(
      user_id: Long,
      session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp,
      n_events: Long)

  /** Streaming form of the batch gap sessionizer (ev2_sessionize): a
    * session closes after `gapMinutes` of per-user inactivity.
    * flatMapGroupsWithState + EventTimeTimeout: sessions that close
    * WITHIN a batch emit immediately; the open tail lives in state with
    * a timeout at (last event + gap), so once the watermark passes it
    * the session flushes and its state evicts. State is proportional
    * to ACTIVE users — the only shape that survives an unbounded
    * stream. Event-time semantics make the result equal to the batch
    * operator on the same data (locked by StreamingSpec parity test).
    */
  def sessionizeStream(
      events: Dataset[SessionEvent],
      gapMinutes: Int = 30,
      watermark: String = "10 minutes"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    def ts(u: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(u / 1000L)
      t.setNanos(((u % 1000000L) * 1000L).toInt)
      t
    }
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(uid, ts(s.startUs), ts(s.lastUs), s.n))
          } else {
            // micro-batch order is not event order: sort this batch's
            // rows, then run the same gap scan as the batch operator.
            // A late-but-within-watermark event landing BEFORE the open
            // session extends its start backwards (batch semantics);
            // one landing more than a gap before the open session's
            // start emits as its own earlier session.
            val sorted = rows.map(e => us(e.ts)).toArray.sorted
            val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            var cur = state.getOption
            sorted.foreach { t =>
              cur = cur match {
                case Some(s) if t - s.lastUs > gapUs =>
                  out += ClosedSession(uid, ts(s.startUs), ts(s.lastUs), s.n)
                  Some(OpenSession(t, t, 1L))
                case Some(s) if s.startUs - t > gapUs =>
                  out += ClosedSession(uid, ts(t), ts(t), 1L)
                  Some(s)
                case Some(s) => Some(s.copy(
                  startUs = math.min(s.startUs, t),
                  lastUs = math.max(s.lastUs, t), n = s.n + 1))
                case None => Some(OpenSession(t, t, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // flush when the watermark passes last-event + gap
              state.setTimeoutTimestamp(s.lastUs / 1000L + gapMinutes * 60L * 1000L)
            }
            out.iterator
          }
      }
  }

  /** Running per-user totals across micro-batches via
    * mapGroupsWithState. With `idleTimeout` set, idle keys age out so
    * the state store stays proportional to the ACTIVE key set, not the
    * all-time key set — that is the production configuration for an
    * unbounded user population. (Processing-time timeouts make the
    * engine fire periodic empty batches to expire state, so
    * deterministic drain-style tests use the no-timeout form.) */
  def runningUserTotals(
      events: Dataset[UserEvent],
      idleTimeout: Option[String] = None): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    val timeoutConf = idleTimeout.fold(GroupStateTimeout.NoTimeout)(_ =>
      GroupStateTimeout.ProcessingTimeTimeout)
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotal, UserTotal](timeoutConf) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserTotal]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UserTotal(userId, 0L, 0.0))
            var n = prev.events
            var tot = prev.total
            rows.foreach { e => n += 1; tot += e.value }
            val next = UserTotal(userId, n, tot)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  final case class TwaEvent(event_type: String, tsUs: Long, eventId: Long, value: Double)
  final case class TwaState(lastUs: Long, lastEventId: Long, lastVu6: Long,
      sumU: Long, sumGapMs: Long, nIntervals: Long)
  final case class TwaRow(event_type: String, n_intervals: Long,
      sum_u: Long, sum_gap_ms: Long)

  /** Streaming face of ev13_time_weighted_avg: maintain per-type
    * (Σ v_u6·gap_ms, Σ gap_ms) continuously via mapGroupsWithState.
    * State per type is ONE frontier observation plus two integer
    * accumulators — constant regardless of stream length — because the
    * TWA update is incremental by construction: a new event closes
    * exactly the interval the frontier opened, with the identical
    * integer arithmetic as the batch lead-window form (v_u6 rounded
    * once, gap as integer-ms floor-div). Over any TIME-ORDERED
    * micro-batch split the final accumulators equal the batch
    * operator's sums exactly (parity-locked in StreamingSpec). */
  def twaStream(events: Dataset[TwaEvent]): Dataset[TwaRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[TwaState, TwaRow](GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[TwaEvent], state: GroupState[TwaState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.tsUs, e.eventId))
          var s = state.getOption.getOrElse(TwaState(Long.MinValue, 0L, 0L, 0L, 0L, 0L))
          sorted.foreach { e =>
            val vU6 = math.floor(e.value * 1000000.0 + 0.5).toLong
            if (s.lastUs != Long.MinValue) {
              val gapMs = Math.floorDiv(e.tsUs - s.lastUs, 1000L)
              s = s.copy(sumU = s.sumU + s.lastVu6 * gapMs,
                sumGapMs = s.sumGapMs + gapMs, nIntervals = s.nIntervals + 1)
            }
            s = s.copy(lastUs = e.tsUs, lastEventId = e.eventId, lastVu6 = vU6)
          }
          state.update(s)
          TwaRow(tpe, s.nIntervals, s.sumU, s.sumGapMs)
      }
  }

  // ---- stream-static enrichment join ------------------------------------

  /** Enrich an event stream with a static dimension table (left join on
    * `key`). The static side is broadcast, so each micro-batch is a
    * map-side hash join — no shuffle of the stream, no join state at
    * all (the dimension is re-resolvable per batch, which also picks up
    * snapshot-table refreshes between batches). This is the streaming
    * form of the reference's per-request template join against a cached
    * dim (flapi endpoints join request params to cache tables). */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  // ---- stream-stream interval join --------------------------------------

  /** Attribute each click to impressions of the same user within
    * `horizon` after the impression (ad-attribution / funnel-stitch
    * shape). Expects `impressions(imp_id, imp_ts, user_id)` and
    * `clicks(click_id, click_ts, click_user)`.
    *
    * Both sides carry watermarks and the join predicate bounds
    * click_ts to [imp_ts, imp_ts + horizon], so Spark derives state
    * eviction on BOTH buffers: an impression is dropped once the click
    * watermark passes imp_ts + horizon, a click once the impression
    * watermark passes click_ts. Without the time bound the buffers grow
    * forever — unusable at 100 TB/day; with it, state is proportional
    * to (rate × horizon) regardless of total volume. */
  def attributeClicks(
      impressions: DataFrame,
      clicks: DataFrame,
      horizon: String = "15 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val i = impressions.withWatermark("imp_ts", watermark)
    val c = clicks.withWatermark("click_ts", watermark)
    i.join(c,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr(s"interval $horizon"))
      .select(col("imp_id"), col("click_id"), col("user_id"),
        col("imp_ts"), col("click_ts"))
  }
}
