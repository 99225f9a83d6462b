package graft.streaming

import graft.operators.Materialize.MatOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ClickThroughRate, WindowedAverages}
import graft.sources.DelimitedCodec

/** The reference's two topologies as streaming transforms. Each is a
  * `DataFrame => DataFrame` over unbounded input — identical plans to the
  * batch forms (Structured Streaming unification), plus watermarks for
  * state eviction (the reference's 24 h window retention analog,
  * SURVEY.md §2.7).
  */
object StreamingPipelines {

  /** The ingest loops' compaction cadence: [[ingestStep]] folds a
    * segmented store once more than this many segments are live (the
    * `maxSegments` default; loops without that parameter use it as
    * is). Bounds BOTH small-file growth and the probe-side Exchange a
    * multi-segment store pays (a compacted store is one bare
    * partitioning-reporting bucketed scan) while keeping each
    * compaction O(corpus)/budget-amortized over the merges since the
    * last one. A long-running stream without ANY compaction would
    * accumulate one segment per trigger forever — unbounded file
    * count, permanent probe shuffle. */
  val DefaultSegmentBudget: Int = 8

  /** The ONE ingest step of the store-backed foreachBatch bodies —
    * the at-least-once contract they share (a micro-batch re-executes
    * under the SAME `batchId` after a sink failure or a restart, and
    * must neither double-merge nor pay its batch artifact twice):
    *
    *  1. on a replayed `batchId` return the LAZY `out` — the store
    *     already holds the batch, so nothing is checkpointed or
    *     published and the sink's write is the only execution;
    *  2. otherwise take the seam checkpoint of `out` (skipped with
    *     `checkpoint = false` where it saves nothing: the index-only
    *     loops pass the batch through, and a few loops publish a frame
    *     checkpointed upstream). The checkpoint is LAZY: the publish
    *     action materializes it, and the caller's sink then reads that
    *     one materialization instead of re-running the probe lineage
    *     (and a file source's batch read) — or, when `publish` reads
    *     other frames, the sink write is its one materialization;
    *  3. run `publish` on the checkpointed frame;
    *  4. compact the store against `maxSegments` when it is
    *     [[Segmented]] (a versioned store publishes one whole version
    *     per merge and only gets the guard).
    *
    * A probe built BEFORE the step keeps scoring the pre-merge store
    * even when it materializes after `publish` (the drift monitors'
    * score-before-merge): `table` pins the immutable segment or
    * version list when it is called, and a compaction or publish keeps
    * what it retires for one more generation, the readers' window. */
  private[streaming] def ingestStep(store: ReplayGuarded, batchId: Long,
      out: DataFrame, maxSegments: Int = DefaultSegmentBudget,
      checkpoint: Boolean = true)(publish: DataFrame => Unit): DataFrame =
    if (store.isReplay(batchId)) out
    else {
      val published = if (checkpoint) out.seamCheckpoint() else out
      publish(published)
      store match {
        case s: Segmented => s.compactIfNeeded(out.sparkSession, maxSegments)
        case _ =>
      }
      published
    }

  /** The loops' id contract, enforced before the probe is even built:
    * a non-long id would union-coerce against the store's long-keyed
    * schema and break type resolution mid-plan, or fail late inside
    * the merge with a message about a DERIVED frame, not the caller's
    * input. */
  private def requireLongIds(caller: String, store: AnyRef,
      batch: DataFrame, idCol: String, kind: String = "doc"): Unit = {
    val t = batch.schema(idCol).dataType
    require(t == org.apache.spark.sql.types.LongType,
      s"$caller requires LONG $kind ids (the " +
        s"${store.getClass.getSimpleName} schema), got ${t.catalogString}" +
        " — map ids to a surrogate long (e.g. xxhash64) first")
  }

  /** The store's corpus view EXCLUDING the batch's own ids (`key` is
    * the store's id column): a doc never near-dups itself, and on an
    * at-least-once REPLAY (survivors already merged) this restores the
    * original run's exact probe input — bucket-cap counts included —
    * so the replay computes the same drop set instead of
    * double-counting the batch's rows in the cap. */
  private def seenView(store: graft.operators.SegmentedBucketedStore,
      batch: DataFrame, idCol: String, key: String): DataFrame =
    store.table(batch.sparkSession).join(
      broadcast(batch.select(col(idCol).as(key))), Seq(key), "left_anti")

  /** Survivors' text digests into the exact-gate bloom sketch. */
  private[streaming] def mergeTextHashes(
      exactStore: graft.operators.BloomStore, rows: DataFrame,
      textCol: String, batchId: Long): Unit =
    exactStore.merge(rows.select(md5(col(textCol)).as("text_hash"))
      .filter(col("text_hash").isNotNull), "text_hash", batchId)

  /** The full Aggregations topology (SURVEY.md §3.1): CSV lines →
    * FAILFAST decode → event time from the embedded orderTimeMs field →
    * 30 s tumbling avg(v*2)/avg(v) → reference output encoding
    * (key "startMs-endMs-0", value "avg2x,avg";
    * Aggregations.java:131-148). Consume in outputMode("update") for the
    * per-update KTable emission (A10; micro-batch granularity is the
    * documented delta, SURVEY.md §7.5.1). */
  def ordersToAverages(lines: DataFrame, watermark: String = "60 seconds"): DataFrame = {
    val decoded = DelimitedCodec.decoded(lines, "value", DelimitedCodec.orderSchema)
      .withColumn("ts", timestamp_millis(col("orderTimeMs")))
    WindowedAverages.windowedAvgStream(decoded, "ts", "orderValue",
      watermark = watermark)
      .select(
        col("win_key").as("key"),
        DelimitedCodec.encode(col("avg_total_x2"), col("avg_total")).as("value"))
  }

  /** J1 streaming form: ±`windowSec` left-outer join with watermarks on
    * both sides. Inputs need (impression_id, imp_ts: timestamp) and
    * (impression_id, clk_ts: timestamp, click_id). Append mode: matches
    * emit eagerly; the null-extended unmatched-left row emits once the
    * watermark closes its window — no Kafka-1.1-style spurious eager
    * nulls (deliberate, SURVEY.md §7.4). */
  def adJoinStream(impressions: DataFrame, clicks: DataFrame,
      windowSec: Int = 60, watermark: String = "60 seconds"): DataFrame = {
    val imp = impressions.withWatermark("imp_ts", watermark)
    val clk = clicks
      .select(
        col("impression_id").as("clk_impression_id"),
        col("clk_ts"), col("click_id"))
      .withWatermark("clk_ts", watermark)
    imp.join(
        clk,
        col("impression_id") === col("clk_impression_id") &&
          col("clk_ts") >= col("imp_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
          col("clk_ts") <= col("imp_ts") + expr(s"INTERVAL $windowSec SECONDS"),
        "left_outer")
      .withColumn("was_clicked", col("click_id").isNotNull)
      .drop("clk_impression_id")
  }

  /** The ClickThroughRateApp foreachBatch body, extracted so the
    * broker-only code path is spec-testable (CtrStoreSpec replays it):
    * merge the batch's per-ad increments into the store UNDER THE
    * BATCH ID — an at-least-once replay after a restart must be a
    * merge no-op, not a double count — then return the update records
    * for ONLY the ads this batch touched, read back from the merged
    * table by their `last_batch` tag. KTable semantics: the reference
    * emits changed keys only (SURVEY.md §1.1 changelog view), not the
    * whole table. The joined batch executes once, inside the merge's
    * write: the emission reads only the published version, and the
    * caller writes it DISTRIBUTED (no collect anywhere on the path). A
    * replayed batch skips the merge and re-emits its touched ads with
    * the already-merged (correct) values — at-least-once output, never
    * a double count. */
  def ctrBatchUpdates(store: CtrStore, joinedBatch: DataFrame,
      batchId: Long): DataFrame = {
    store.merge(ClickThroughRate.adCounts(joinedBatch), batchId)
    val touched = store.touchedBy(joinedBatch.sparkSession, batchId)
    touched.select(col("ad_id"),
      col("num_impressions"), col("num_clicks"),
      ClickThroughRate.ctrFaithful(touched).as("ctr"))
  }

  /** Streaming exact dedup: drop repeats of `idCols` arriving within the
    * watermark (state evicted once the watermark passes — bounded memory,
    * the streaming analog of Dedup.exact). */
  def dedupStream(df: DataFrame, tsCol: String, watermark: String,
      idCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Streaming curation at ingest — the streaming form of
    * `PipelineOps.pipelineCurate`'s gate stages: quality floor and
    * deterministic stratified mixture are STATELESS scan transforms
    * (identical expressions to the batch pipeline, so a doc passes the
    * stream gates iff it passes the batch gates), then exact dedup on
    * the md5 text hash within the watermark horizon (state carries
    * 16-byte hashes, evicted at the watermark — bounded by rate ×
    * horizon, never corpus size). Near-dup PAIRING at ingest runs in
    * `NearDupStream.minhashNearDups`/`simhashNearDups`; global near-dup
    * CLUSTERING is a batch compaction job by design (connected
    * components need the whole pair graph). */
  def curateStream(docs: DataFrame, idCol: String, tsCol: String,
      textCol: String, langCol: String, watermark: String,
      qualityMin: Double, ratesBp: Map[String, Int],
      defaultBp: Int): DataFrame = {
    import graft.operators.TextAnalysis
    val gated = docs
      .withColumn("quality", TextAnalysis.qualityExpr(col(textCol)))
      .filter(col("quality") >= qualityMin)
    val sampled = TextAnalysis.stratifiedSample(gated, langCol, idCol,
      ratesBp, defaultBp)
    dedupStream(
      sampled.withColumn("text_hash", md5(col(textCol))),
      tsCol, watermark, Seq("text_hash"))
      .drop("text_hash")
  }

  /** Streaming curation with the NEAR-dup gate composed in — the full
    * `PipelineOps.pipelineCurate` analog in ONE streaming topology:
    * quality floor and stratified mixture (stateless scan gates,
    * identical expressions to the batch pipeline) → MinHash-LSH
    * drop verdicts ([[NearDupStream.minhashDropVerdicts]]: the later
    * doc of every in-horizon verified pair drops, transitively —
    * which subsumes exact dedup for shingle-able text, jac = 1.0,
    * exactly as the batch clustering does). Returns the per-band
    * verdict stream; collapse per doc with [[collapseCurated]] inside
    * foreachBatch — all of a doc's band rows ride the same trigger, so
    * the collapse is a plain batch groupBy, never a second stateful
    * operator. Streaming bound (documented): pairing sees the
    * watermark horizon, not the whole corpus; global clustering stays
    * a batch compaction job. */
  def curateNearDupStream(docs: DataFrame, idCol: String, tsCol: String,
      textCol: String, langCol: String, watermark: String,
      qualityMin: Double, ratesBp: Map[String, Int], defaultBp: Int,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000): DataFrame = {
    import graft.operators.TextAnalysis
    val gated = docs
      .withColumn("quality", TextAnalysis.qualityExpr(col(textCol)))
      .filter(col("quality") >= qualityMin)
    val sampled = TextAnalysis.stratifiedSample(gated, langCol, idCol,
      ratesBp, defaultBp)
    NearDupStream.minhashDropVerdicts(sampled, idCol, tsCol, textCol,
      langCol, watermark, threshold = threshold,
      maxBucketSize = maxBucketSize).toDF()
  }

  /** foreachBatch-side collapse of [[curateNearDupStream]]'s verdict
    * rows: one row per doc no bucket dropped. */
  def collapseCurated(verdicts: DataFrame): DataFrame =
    verdicts
      .groupBy(col("doc_id"))
      .agg(first(col("ts")).as("ts"), first(col("lang")).as("lang"),
        first(col("text")).as("text"), max(col("dropped")).as("dropped"))
      .filter(!col("dropped"))
      .drop("dropped")

  /** The full incremental near-dup INGEST loop over the persisted band
    * store — the production form of dedup-at-ingest, as a foreachBatch
    * body: (1) probe the batch's bands against the store-backed corpus
    * view (zero signature recompute over the seen side —
    * [[graft.operators.Dedup.incrementalMinhashLshMd5FromStore]]),
    * (2) drop every batch doc verified near-dup of the accepted corpus,
    * and the later doc of each batch-internal pair — transitively: a
    * doc whose canonical partner was itself dropped still drops (same
    * policy as `NearDupStream.minhashDropVerdicts`), (3) merge the
    * SURVIVORS' bands into the store (batchId-idempotent: an
    * at-least-once replay neither re-drops nor double-merges). Returns
    * the surviving rows. Only canonical (surviving) docs' bands enter
    * the store — a later near-dup of a dropped doc still pairs against
    * its surviving canonical, whose bands are near-identical by
    * construction. `seenDocs` backs the verification join only
    * (candidate ids; at corpus scale a persisted shingle table).
    *
    * Id contract: `idCol` must be unique ACROSS the stream, not just
    * within a batch. A previously-ingested doc re-sent under a NEW
    * batchId is not a replay — it hides from its own prior bands (the
    * seen view excludes the batch's ids) and, surviving, appends
    * duplicate band rows for its id, skewing the store's bucket
    * counts. Replace-on-id is the catalog seam's job (Delta MERGE);
    * same contract on [[embNearDupIngestBatch]]. */
  def nearDupIngestBatch(store: graft.operators.BandStore, seenDocs: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = graft.operators.Dedup.NgramThreshold,
      maxBucketSize: Int = graft.operators.Dedup.NgramMaxBlockSize,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    import graft.operators.Dedup
    requireLongIds("nearDupIngestBatch", store, batch, idCol)
    val pairs = Dedup.incrementalMinhashLshMd5FromStore(
      batch, seenView(store, batch, idCol, "doc_id"),
      Dedup.shingleTable(seenDocs, idCol, textCol), idCol, textCol,
      threshold = threshold, maxBucketSize = maxBucketSize)
    ingestStep(store, batchId,
      dropSurvivors(batch, pairs, idCol, "doc_a", "doc_b"), maxSegments)(
      s => store.merge(Dedup.md5Bands(s, idCol, textCol), batchId))
  }

  /** Winnow dedup-at-ingest — the [[nearDupIngestBatch]] loop over the
    * PARTIAL-OVERLAP detector: (1) probe the batch's selected
    * fingerprints against the persisted sketch
    * ([[graft.operators.WinnowStore.probe]], excludeBatchIds so
    * replays see the original probe input), (2) drop by the shared ONE
    * drop policy (corpus endpoint is the accepted canonical;
    * batch-internal pairs keep the earlier id), (3) merge the
    * SURVIVORS' fingerprints under the batchId (replay = no-op).
    * Winnowing needs no verification-join corpus side — a shared
    * selected fingerprint IS a shared k-gram, so the probe is
    * self-contained against the store. Same unique-id contract as
    * [[nearDupIngestBatch]]. */
  def winnowIngestBatch(store: graft.operators.WinnowStore,
      batch: DataFrame, idCol: String, textCol: String,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    requireLongIds("winnowIngestBatch", store, batch, idCol)
    val pairs = store.probe(batch, idCol, textCol, excludeBatchIds = true)
    ingestStep(store, batchId,
      dropSurvivors(batch, pairs, idCol, "doc_a", "doc_b"), maxSegments)(
      store.ingest(_, idCol, textCol, batchId))
  }

  /** SimHash dedup-at-ingest — the [[nearDupIngestBatch]] loop over the
    * WHOLE-DOC fingerprint detector ([[graft.operators.SimhashStore]]):
    * (1) fingerprint ONLY the arriving batch and probe its 15-bit bands
    * against the persisted banded table (the fingerprint rides in the
    * band rows, so the hamming verification needs no corpus join at
    * all — like winnowing, the probe is self-contained against the
    * store), (2) drop by the shared ONE drop policy (corpus endpoint
    * is the accepted canonical; batch-internal pairs keep the earlier
    * id), (3) merge the SURVIVORS' band rows under the batchId
    * (at-least-once replay = no-op). The seen view excludes the
    * batch's own ids, so a replayed trigger — survivors' bands already
    * merged — sees the original run's exact probe input and computes
    * the same drop set. Same unique-id contract as
    * [[nearDupIngestBatch]]: replace-on-id is the catalog seam's job.
    *
    * Uses the md5-twin hash family ([[graft.operators.Dedup
    * .incrementalSimhashMd5FromStore]]) so the loop's drop decisions
    * stay on the cross-engine-gated pipeline (the xxhash64 production
    * family differs only in the hash, pinned by DedupSpec). */
  def simhashIngestBatch(store: graft.operators.SimhashStore,
      batch: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = graft.operators.Dedup.Md5SimhashMaxHamming,
      maxBucketSize: Int = graft.operators.Dedup.SimhashMaxBucketSize,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    import graft.operators.Dedup
    requireLongIds("simhashIngestBatch", store, batch, idCol)
    val pairs = Dedup.incrementalSimhashMd5FromStore(batch,
      seenView(store, batch, idCol, "doc_id"), idCol, textCol,
      maxHamming = maxHamming, maxBucketSize = maxBucketSize)
    ingestStep(store, batchId,
      dropSurvivors(batch, pairs, idCol, "doc_a", "doc_b"), maxSegments)(
      s => store.merge(Dedup.md5SimhashBands(s, idCol, textCol), batchId))
  }

  /** BM25 index-at-ingest — the posting-store loop ([[graft.operators
    * .LexStore]]): tokenize ONLY the arriving batch and merge its
    * (doc_id, term, tf, dl) postings as one segment under the batchId
    * (at-least-once replay = no-op via the store's replay guard —
    * checked FIRST, so a replayed trigger pays zero tokenization).
    * Serving stays [[graft.operators.LexStore.bm25]]: query-time work
    * is posting-sized, and cross-batch df/N/avgdl are exact because the
    * probe reads the UNION of segments, never per-segment scores —
    * bm25(store after batches 1..n) ≡ inline bm25Search over the
    * concatenated corpus (LexIngestSpec pins it). Unlike the dedup
    * loops this is an INDEXING loop: nothing drops, the batch passes
    * through unchanged for downstream stages. Same unique-id contract
    * as [[nearDupIngestBatch]] — a doc re-sent under a new batchId
    * appends duplicate postings (upsert is the catalog seam's job). */
  def lexIngestBatch(store: graft.operators.LexStore, batch: DataFrame,
      idCol: String, textCol: String,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    requireLongIds("lexIngestBatch", store, batch, idCol)
    ingestStep(store, batchId, batch, maxSegments, checkpoint = false)(
      store.ingest(_, idCol, textCol, batchId))
  }

  /** Drift-monitor-at-ingest — the data-quality tripwire in front of
    * (or beside) any curate loop: (1) score the arriving batch's
    * Jensen-Shannon drift against the ACCUMULATED corpus distribution
    * folded from the [[graft.operators.LexStore]]'s persisted postings
    * (sum(tf) by term — the index the pipeline already maintains for
    * search doubles as the monitoring baseline, zero extra state),
    * then (2) index the batch under the batchId. Returns the one-row
    * drift record (n_batch_tokens, n_seen_tokens, js_nats) for the
    * caller's alarm sink — an empty frame on the FIRST batch (no
    * baseline yet: drift against an empty distribution is undefined).
    * Replay semantics are telemetry-grade, not exactly-once: a
    * replayed trigger's MERGE is a no-op (the store's replay guard),
    * but its drift row scores against a baseline that already contains
    * the batch's own postings, so it reads lower than the original
    * run's — the caller's alarm sink must tolerate at-least-once rows,
    * which every monitoring stack already does. Scale: the probe is
    * one posting fold + the batch's token histogram; the merge is
    * [[lexIngestBatch]]'s. */
  def driftMonitorBatch(store: graft.operators.LexStore, batch: DataFrame,
      idCol: String, textCol: String,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    requireLongIds("driftMonitorBatch", store, batch, idCol)
    val drift = corpusDrift(store, batch, textCol).seamCheckpoint()
    ingestStep(store, batchId, batch, maxSegments, checkpoint = false)(
      store.ingest(_, idCol, textCol, batchId))
    drift
  }

  /** JS drift of `batch` against the corpus term counts folded from the
    * posting store (sum(tf) by term) — the probe of both whole-corpus
    * drift loops. */
  private def corpusDrift(store: graft.operators.LexStore,
      batch: DataFrame, textCol: String): DataFrame =
    graft.operators.TextAnalysis.jsDriftVsCorpus(batch, textCol,
      store.table(batch.sparkSession).filter(col("term").isNotNull)
        .groupBy(col("term")).agg(sum(col("tf")).as("n"))
        .select(col("term").as("word"), col("n")))

  /** JS-drift level (nats) above which an arriving batch is
    * QUARANTINED instead of curated — the named default for
    * [[curateIngestDriftGated]]. Calibration logic: JS divergence is
    * bounded by ln 2 ≈ 0.6931 nats (total vocabulary replacement —
    * the wrong-language / template-spam failure mode reads at or near
    * the ceiling), while HEALTHY same-domain traffic sits far below
    * it: the gate corpus measures 0.0016 whole-corpus and ≤ 0.036
    * per-source (drift_vs_corpus / drift_by_source at sf0.01), and
    * even the ingest spec's tiny partially-overlapping batches stay
    * ≤ ~0.45. 0.55 clears every healthy reading with ~0.14 nats of
    * headroom below the failure mode. Production tuning: record
    * [[driftMonitorBatch]]'s time series and set the threshold above
    * its p99 — the monitor exists precisely to make that series
    * cheap. */
  val DriftQuarantineNats = 0.55

  /** Drift-GATED curation ingest — the composition that makes the
    * monitor actionable (the reason a production pipeline runs it):
    * per arriving batch,
    *
    *  1. score the batch's whole-corpus JS drift against the posting
    *     store's accumulated baseline (the [[driftMonitorBatch]]
    *     probe — store NOT yet merged, so the batch never scores
    *     against itself);
    *  2. if js_nats > `quarantineNats`, the batch routes VERBATIM to
    *     the held table ([[graft.operators.HeldBatchStore]]) and
    *     NOTHING else merges — drift baseline, floor histogram,
    *     exact sketch and band store are all left exactly as they
    *     were, so an operator can review, retune, and replay the
    *     batch with zero contamination to undo;
    *  3. otherwise the batch curates exactly as [[curateIngestBatch]]
    *     (gates 1-4, same stores, same batchId idempotency) and its
    *     FULL token mass joins the drift baseline — the monitor
    *     tracks the arrival distribution of accepted traffic, so a
    *     near-dup-heavy but in-distribution batch does not skew the
    *     baseline the next alarm is judged against.
    *
    * The first batch ever (empty baseline) emits no drift row and
    * ingests: the baseline must bootstrap from something — seed from
    * a trusted first crawl, the C4-style convention.
    *
    * Replay: every merge is batchId-idempotent. A QUARANTINED batch's
    * replay is exactly-once by construction — the stores were never
    * touched, so the replay probes the identical baseline and decides
    * identically (the held-table merge itself is replay-guarded). An
    * ACCEPTED batch's replay re-curates replay-exactly
    * ([[curateIngestBatch]]'s guarantees); its recomputed drift
    * scalar reads lower (the baseline now contains the batch — the
    * documented at-least-once monitor-row caveat) but sits BELOW the
    * threshold it already passed, so the accept decision is stable
    * too.
    *
    * Returns the curated survivors (empty, schema-stable, when
    * quarantined). The drift scalar is one bounded driver row — the
    * gate is a per-batch decision, exactly like the convergence
    * scalars the component loop reads. */
  def curateIngestDriftGated(driftStore: graft.operators.LexStore,
      heldStore: graft.operators.HeldBatchStore,
      floorStore: QualityFloorStore,
      exactStore: graft.operators.BloomStore,
      bandStore: graft.operators.BandStore, seenDocs: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, langCol: String,
      ratesBp: Map[String, Int], defaultBp: Int,
      threshold: Double = graft.operators.Dedup.NgramThreshold,
      maxBucketSize: Int = graft.operators.Dedup.NgramMaxBlockSize,
      quarantineNats: Double = DriftQuarantineNats,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    // the gate scalar: ≤ 1 row, the bounded-driver-read convention
    val js = corpusDrift(driftStore, batch, textCol)
      .select(col("js_nats")).collect().headOption.map(_.getDouble(0))
    if (js.exists(_ > quarantineNats)) {
      ingestStep(heldStore, batchId, batch, maxSegments, checkpoint = false)(
        b => heldStore.merge(b.select(lit(batchId).as("batch_id"),
          col(idCol).as("doc_id"), col(langCol).as("lang"),
          col(textCol).as("text")), batchId))
      // zero survivors, schema identical to the accepted path's (the
      // lazy limit(0) never runs the scoring and touches no store)
      graft.operators.TextAnalysis.stratifiedSample(
        batch.withColumn("quality_bp", floorStore.qualityBp(col(textCol))),
        langCol, idCol, ratesBp, defaultBp).limit(0)
    } else {
      ingestStep(driftStore, batchId, batch, maxSegments, checkpoint = false)(
        driftStore.ingest(_, idCol, textCol, batchId))
      curateIngestBatch(floorStore, exactStore, bandStore, seenDocs,
        batch, idCol, textCol, langCol, ratesBp, defaultBp, threshold,
        maxBucketSize, batchId, maxSegments)
    }
  }

  /** PER-SOURCE drift-monitor-at-ingest — [[driftMonitorBatch]]'s
    * grouped sibling over the persisted (source, word, n) histogram
    * store ([[graft.operators.TermHistStore]]): the arriving batch's
    * per-source JS divergence is scored against the store's folded
    * per-source baseline (zero seen-side re-tokenization — the gap
    * the whole-corpus monitor's LexStore fold could not close, its
    * postings losing the source dimension), THEN the batch's own
    * histogram sliver merges in (batchId-idempotent). First batch
    * per source emits no row (drift against an empty distribution is
    * undefined).
    *
    * Replay semantics are AT-LEAST-ONCE for the monitor ROWS, same
    * honest caveat as [[driftMonitorBatch]]: a replayed trigger skips
    * the merge exactly, but its drift rows are recomputed against a
    * store that already contains the batch — fine for telemetry
    * (the alarm already fired once with the exact value); do not
    * build a gating signal on replayed drift rows. */
  def driftBySourceMonitorBatch(store: graft.operators.TermHistStore,
      batch: DataFrame, srcCol: String, textCol: String,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    val seenCounts = store.histogram(batch.sparkSession)
      .select(col("g").as("grp"), col("word"), col("n"))
    val drift = graft.operators.TextAnalysis
      .jsDriftBySourceCounts(batch, srcCol, textCol, seenCounts)
      .seamCheckpoint()
    ingestStep(store, batchId, batch, maxSegments, checkpoint = false)(
      store.ingest(_, srcCol, textCol, batchId))
    drift
  }

  /** Count-Min index-at-ingest — [[lexIngestBatch]]'s sibling over the
    * frequency-sketch store ([[graft.operators.CmsStore]]): one
    * distributed sketch aggregate over the arriving batch's tokens,
    * one stored row under the batchId (replay checked first — a
    * replayed trigger pays zero tokenization). The read side folds the
    * stored sketches by counter addition, bit-identical to a
    * single-pass sketch (CmsSpec), so corpus-level heavy-hitter
    * queries never re-scan a batch. Indexing loop: the batch passes
    * through unchanged. */
  def cmsIngestBatch(store: graft.operators.CmsStore, batch: DataFrame,
      textCol: String,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame =
    ingestStep(store, batchId, batch, maxSegments, checkpoint = false)(
      store.ingest(_, textCol, batchId))

  /** Quantile-state-at-ingest — [[cmsIngestBatch]]'s sibling over the
    * per-group value-histogram store
    * ([[graft.operators.QuantileStore]]): one map-side-combining
    * partial agg of the arriving batch to its (group, value, count)
    * sliver, one stored segment under the batchId (replay checked
    * first — a replayed trigger pays zero aggregation). The read side
    * folds segments by counter addition and answers EXACT per-group
    * interpolated quantiles (frequency-weighted `percentile`), equal
    * to the batch aggregate over the concatenated corpus
    * (QuantileStoreSpec pins stream == batch per horizon). Indexing
    * loop: the batch passes through unchanged. */
  def quantileIngestBatch(store: graft.operators.QuantileStore,
      batch: DataFrame, groupCol: String,
      value: org.apache.spark.sql.Column,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame =
    ingestStep(store, batchId, batch, maxSegments, checkpoint = false)(
      store.ingest(_, groupCol, value, batchId))

  /** The ONE drop policy of the store-backed ingest loops (text and
    * vector — a divergence here would silently split their dedup
    * semantics): the batch endpoint of a (seen, new) pair drops (the
    * corpus row is the accepted canonical); of a batch-internal pair
    * (canonicalized a < b), the later id drops — unconditionally, so
    * drops chain. Membership joins on the raw id values — a cast would
    * null out non-numeric id types and silently disable every drop. */
  private def dropSurvivors(batch: DataFrame, pairs: DataFrame,
      idCol: String, aCol: String, bCol: String): DataFrame = {
    val members = batch.select(col(idCol).as("v"))
      .withColumn("in_batch", lit(true))
    val flagged = pairs
      .select(col(aCol).as("a"), col(bCol).as("b"))
      .join(members.select(col("v").as("a"), col("in_batch").as("a_in")), Seq("a"), "left")
      .join(members.select(col("v").as("b"), col("in_batch").as("b_in")), Seq("b"), "left")
      .na.fill(false, Seq("a_in", "b_in"))
    val drops = flagged.select(
        when(col("a_in") && !col("b_in"), col("a"))
          .when(!col("a_in") && col("b_in"), col("b"))
          .when(col("a_in") && col("b_in"), col("b"))
          .as("drop_id"))
      .filter(col("drop_id").isNotNull).distinct()
    batch.join(drops, batch(idCol) === drops("drop_id"), "left_anti")
  }

  /** The scan-side EXACT-dedup gate of the complete ingest loop: route
    * the batch through the persisted sharded bloom sketch
    * ([[graft.operators.Dedup.incrementalExactBloomFromStore]] — the
    * native gate, no corpus shuffle, no banding cost for exact dups)
    * and return the batch rows that are first-of-their-text within the
    * batch AND absent from the seen corpus. Replay-exact by the same
    * mechanism as the near-dup loops: the batch's own ids are excluded
    * from the CONFIRM side, so survivor hashes a previous attempt
    * merged can only route rows into the confirm join (where the
    * excluded view clears them), never flip a verdict. */
  def exactGateBatch(exactStore: graft.operators.BloomStore,
      seenDocs: DataFrame, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val seenExcl = seenDocs.join(
      broadcast(batch.select(col(idCol))), Seq(idCol), "left_anti")
    val survivorIds = graft.operators.Dedup.incrementalExactBloomFromStore(
      batch, seenExcl, exactStore, idCol, textCol).select(col(idCol))
    batch.join(broadcast(survivorIds), Seq(idCol), "left_semi")
  }

  /** Benchmark-decontamination gate for an ingest loop: drop every
    * arriving doc whose word-shingle overlap with the persisted eval
    * suite ([[graft.operators.BenchmarkStore]]) reaches `minOverlap` —
    * the train/test-overlap scrub, applied where it belongs: BEFORE
    * the corpus-relative machinery ([[curateIngestBatch]]), because
    * contamination is an ABSOLUTE property of (doc, eval suite) while
    * the quality floor is relative to the shipped corpus — a
    * contaminated doc must not count toward the histogram of a corpus
    * it can never join. No batchId/replay seam: the gate is a pure
    * read of the store (re-running it is idempotent by construction).
    * Verdicts are as-of-ingest; docs accepted before an eval set
    * merged are re-judged at read time by running
    * [[graft.operators.TextAnalysis.contaminationFrom]] over the sink
    * against the grown store. */
  def decontaminateGateBatch(benchStore: graft.operators.BenchmarkStore,
      batch: DataFrame, idCol: String, textCol: String,
      minOverlap: Int = 1): DataFrame = {
    val clean = benchStore.overlaps(batch, idCol, textCol, minOverlap)
      .filter(!col("flagged")).select(col("doc_id").as(idCol))
    batch.join(broadcast(clean), Seq(idCol), "left_semi")
  }

  /** SPAN-granular decontamination at ingest — the streaming form of
    * the batch decontaminate_strip: every arriving doc is probed
    * positionally against the persisted benchmark shingle set and its
    * contaminated spans STRIPPED, the document kept (where
    * [[decontaminateGateBatch]] drops the whole doc). Like the gate
    * form, this is a PURE store read — the verdict is an absolute
    * function of (doc, eval suite), so there is no batchId/replay
    * seam and re-running is idempotent by construction; it composes
    * as the FIRST stage of an ingest loop (scrub before scoring:
    * quality must be judged on the text that ships, and downstream
    * stores must never ingest benchmark content). Returns
    * (idCol, clean_text, n_dropped). */
  def decontaminateStripBatch(benchStore: graft.operators.BenchmarkStore,
      batch: DataFrame, idCol: String, textCol: String): DataFrame =
    // fan = false on both seams: probe-sized batch by contract
    graft.operators.Dedup.stripSpans(batch,
      graft.operators.TextAnalysis.contaminationSpansFrom(batch,
        benchStore.table(batch.sparkSession), idCol, textCol,
        benchStore.shingleN, fan = false),
      idCol, textCol, fan = false)

  /** The COMPLETE streaming curation ingest — every gate of the batch
    * pipeline composed into ONE foreachBatch body over the three
    * persisted stores:
    *   1. quality HISTOGRAM merge (every doc counts — the floor is
    *      corpus-relative over the full stream; verdicts apply at READ
    *      time via `floorStore.curated(sink)`, retroactively, so the
    *      floor cannot influence which canonical the dedup keeps),
    *   2. stratified mixture (emit-time, stateless — pure function of
    *      the row, identical expression to batch),
    *   3. scan-side EXACT dedup against the persisted bloom sketch
    *      ([[exactGateBatch]] — exact dups die HERE, paying one native
    *      membership test instead of the full banding pipeline; the
    *      band store never ingests an exact dup's bands),
    *   4. store-probed near-dup ingest (emit-time, greedy
    *      first-arrival canonical — [[nearDupIngestBatch]]);
    *      survivors' text hashes then merge into the bloom sketch
    *      (batchId-idempotent, like both other stores).
    * Returns the batch's surviving rows WITH their quality_bp column —
    * append them to the doc sink; the curated corpus at any moment is
    * `floorStore.curated(sink)`. Semantics are unchanged from the
    * pre-bloom composition: an exact dup is a jac-1.0 near-dup, so the
    * banding gate reached the same verdicts — the bloom gate just
    * reaches them at membership-test cost (CurateIngestSpec pins both
    * the composed view and the routing). Exact dups of DROPPED docs
    * pass the bloom gate (survivor hashes only) and still die in
    * banding against their surviving canonical — same as before. */
  def curateIngestBatch(floorStore: QualityFloorStore,
      exactStore: graft.operators.BloomStore,
      bandStore: graft.operators.BandStore, seenDocs: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, langCol: String,
      ratesBp: Map[String, Int], defaultBp: Int,
      threshold: Double = graft.operators.Dedup.NgramThreshold,
      maxBucketSize: Int = graft.operators.Dedup.NgramMaxBlockSize,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    // literally gates 1+2, gate 3, then gate 4 — one body per gate, so
    // a fix to any stage lands in every composition that uses it
    val gated = curateRelativeBatch(floorStore, batch, idCol, textCol,
      langCol, ratesBp, defaultBp, batchId)
    val exactSurvivors = exactGateBatch(exactStore, seenDocs, gated,
      idCol, textCol)
    val out = nearDupIngestBatch(bandStore, seenDocs, exactSurvivors,
      idCol, textCol, threshold, maxBucketSize, batchId, maxSegments)
    // survivors' hashes into the sketch — out is already checkpointed
    // (inside nearDupIngestBatch) on the non-replay path
    ingestStep(exactStore, batchId, out, checkpoint = false)(
      mergeTextHashes(exactStore, _, textCol, batchId))
  }

  /** The COMPLETE curation ingest with token-level boilerplate removal
    * — the streaming twin of the batch
    * [[graft.packs.PipelineOps.pipelineCurateStrip]] composition, same
    * stage order: quality scoring + mixture + exact gate + near-dup
    * drop ([[curateIngestBatch]]) first, THEN [[spanIngestBatch]] over
    * the batch's SURVIVORS — a retired duplicate's grams never enter
    * the gram corpus, so a canonical doc is not self-duplicated by its
    * own dropped copies (the ordering the batch spec pins). Returns the
    * survivors with `textCol` replaced by (clean_text, n_dropped);
    * `seenDocs` stays the ORIGINAL accepted texts — near-dup
    * verification compares arriving content against what the corpus
    * actually contained, not the rewrites. Every store merge is
    * batchId-idempotent; both probes are replay-exact. */
  def curateStripIngestBatch(floorStore: QualityFloorStore,
      exactStore: graft.operators.BloomStore,
      bandStore: graft.operators.BandStore,
      gramStore: graft.operators.GramStore, seenDocs: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, langCol: String,
      ratesBp: Map[String, Int], defaultBp: Int,
      threshold: Double = graft.operators.Dedup.NgramThreshold,
      maxBucketSize: Int = graft.operators.Dedup.NgramMaxBlockSize,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    val survivors = curateIngestBatch(floorStore, exactStore, bandStore,
      seenDocs, batch, idCol, textCol, langCol, ratesBp, defaultBp,
      threshold, maxBucketSize, batchId, maxSegments)
    val cleaned = spanIngestBatch(gramStore, survivors, idCol, textCol,
      batchId, maxSegments)
    survivors.drop(textCol).join(cleaned, Seq(idCol))
  }

  /** MULTIMODAL curation ingest — the streaming twin of the batch
    * [[graft.packs.PipelineOps.pipelineCurateMultimodal]] composition:
    * per arriving batch of caption+image docs, (1) caption quality
    * gates scan-side (the shared expression), (2) the image near-dup
    * gate probes the persisted [[graft.operators.MediaHashStore]] —
    * an arriving asset is a duplicate iff it hamming-pairs with any
    * SEEN asset (first arrival is canonical) or with a lower-id asset
    * of its own batch (the batch form's min-id rule, batch-internal) —
    * then (3) ALL the batch's hashes merge into the store
    * (batchId-idempotent), duplicates included: a duplicate asset
    * stays in the pair graph, exactly as in the one-shot form, so a
    * later near-copy of a retired duplicate is still retired. When
    * batches arrive in ascending id ranges the unioned outputs equal
    * the batch pipeline row-for-row (MultimodalCurateStreamSpec pins
    * it — the incremental-span equivalence argument; bucket caps are
    * per-(band,value) counts and far from binding at gate scale).
    * Returns the batch's rows with the batch form's audit columns.
    *
    * `batchHashes` is the batch's DECODED hash table (asset_id ==
    * doc id) — decode is the caller's one expensive pass and is
    * checkpointed here before the probe fans it out. */
  def multimodalCurateIngestBatch(
      mediaStore: graft.operators.MediaHashStore, batch: DataFrame,
      batchHashes: DataFrame, idCol: String, textCol: String,
      qualityMin: Double,
      batchId: Long = VersionedParquetStore.NoBatchId,
      langCol: String = "lang"): DataFrame = {
    val bh = batchHashes.seamCheckpoint(false)
    val pairs = mediaStore
      .probe(bh, excludeBatchIds = mediaStore.isReplay(batchId))
      .seamCheckpoint(false)
    val batchIds = bh.select(col("asset_id"))
    // pair rows oriented around each BATCH asset: (aid, partner), both
    // orientations from ONE read of the lazy checkpoint (a union of two
    // reads would compute each of its partitions twice)
    val touching = pairs
      .select(explode(array(
        struct(col("asset_a").as("aid"), col("asset_b").as("partner")),
        struct(col("asset_b").as("aid"), col("asset_a").as("partner")))).as("o"))
      .select(col("o.aid").as("aid"), col("o.partner").as("partner"))
      .join(batchIds.select(col("asset_id").as("aid")), Seq("aid"), "left_semi")
    val dup = touching
      .join(batchIds.select(col("asset_id").as("partner"))
        .withColumn("partner_in_batch", lit(true)), Seq("partner"), "left")
      .filter(col("partner_in_batch").isNull || col("partner") < col("aid"))
      .select(col("aid").as(idCol)).distinct()
      .withColumn("img_dup", lit(true))
    ingestStep(mediaStore, batchId, bh, checkpoint = false)(
      mediaStore.ingest(_, batchId))
    // the SHARED audit projection — batch and stream cannot drift
    graft.packs.PipelineOps.multimodalVerdict(
      batch.select(col(idCol), col(langCol).as("lang")),
      graft.operators.TextAnalysis.qualityScore(batch, idCol, textCol),
      dup, idCol, qualityMin)
  }

  /** foreachBatch body for the streaming ANN ingest side: assign the
    * arriving vectors to their IVF cells (one scan-side native-expression
    * pass — [[graft.operators.IvfIndex.index]]) and merge them into the
    * persisted inverted file. Centroids are frozen as of training (faiss
    * semantics; retrain + rebuild is an offline job — a drifted corpus
    * degrades recall only, never the exactness of returned scores).
    * Returns the assigned rows (batchId-idempotent merge; the
    * at-least-once replay re-emits but never double-inserts). Queries
    * probe the store at any moment via
    * [[graft.operators.IvfIndex.topKFromIndexed]] — IvfStoreSpec pins
    * stream-ingested == batch-indexed, probe plans included. */
  def annIngestBatch(store: graft.operators.IvfStore,
      centroids: Seq[Seq[Double]], batch: DataFrame,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame =
    ingestStep(store, batchId,
      graft.operators.IvfIndex.index(batch, centroids), maxSegments)(
      store.merge(_, batchId))

  /** SemDeDup at ingest over the SAME inverted file [[annIngestBatch]]
    * maintains and ANN serving probes — the semantic twin of
    * [[embNearDupIngestBatch]], as a foreachBatch body: (1) cell-assign
    * the batch (scan-side argmin) and probe it against the store-backed
    * corpus view (zero recompute over the seen side; the batch's own
    * ids are excluded, so an at-least-once REPLAY sees the original
    * probe input — cell-cap counts included — and computes the same
    * drop set), (2) drop every batch vector semantically near-dup of
    * the accepted corpus, and the later id of each batch-internal pair
    * (the shared [[dropSurvivors]] policy — drops chain), (3) merge the
    * SURVIVORS' assigned rows (batchId-idempotent). Returns the
    * surviving rows. The result is an ANN store that is dedup-gated by
    * construction: accepted vectors are immediately servable via
    * [[graft.operators.IvfPq]]/[[graft.operators.IvfIndex]] probes, and
    * no two accepted vectors within a cell exceed the threshold.
    * Centroids are frozen as of training (faiss semantics) — retrain
    * applies offline via [[graft.operators.IvfStore.rebuild]]. Same
    * unique-id-across-the-stream contract as the other loops. */
  def semanticDedupIngestBatch(store: graft.operators.IvfStore,
      centroids: Seq[Seq[Double]], batch: DataFrame, threshold: Double,
      maxCellSize: Int =
        graft.operators.SimilaritySearch.SemDedupMaxCellSize,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    import graft.operators.{IvfIndex, SimilaritySearch}
    requireLongIds("semanticDedupIngestBatch", store, batch, "vec_id", "vec")
    val pairs = SimilaritySearch.incrementalSemanticNearDupPairsFromStore(
      batch, seenView(store, batch, "vec_id", "vec_id"), centroids,
      threshold, maxCellSize)
    ingestStep(store, batchId,
      dropSurvivors(batch, pairs, "vec_id", "vec_a", "vec_b"), maxSegments)(
      s => store.merge(IvfIndex.index(s, centroids), batchId))
  }

  /** Compressed-index maintenance: encode the batch under frozen
    * centroids + codebooks and merge into the persisted PQ inverted
    * file ([[graft.operators.IvfPqStore]]) — [[annIngestBatch]]'s twin
    * for the memory-bound serving form; probes read codes+norms only.
    * Re-quantization (new centroids OR codebooks) is offline and must
    * re-encode from the raw vector source — codes are lossy. */
  def annPqIngestBatch(store: graft.operators.IvfPqStore,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      batch: DataFrame,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame =
    ingestStep(store, batchId,
      graft.operators.IvfPq.encode(batch, centroids, codebooks), maxSegments)(
      store.merge(_, batchId))

  /** The full incremental near-dup INGEST loop over the persisted
    * embedding store — the VECTOR twin of [[nearDupIngestBatch]], as a
    * foreachBatch body: (1) probe the batch against the store-backed
    * corpus view under the STORE's LSH config (zero hyperplane / cast /
    * norm work over the seen side; the batch's own ids are excluded
    * from the seen view, so an at-least-once REPLAY — survivors already
    * merged — sees the original run's exact probe input and computes
    * the same drop set), (2) drop every batch vector verified near-dup
    * of the accepted corpus, and the later id of each batch-internal
    * pair — unconditionally, so drops chain, (3) ingest the SURVIVORS
    * (one batchId guards BOTH store tables; a replay neither re-drops
    * nor double-merges, and skips the checkpoint entirely).
    * Returns the surviving rows. Only canonical (surviving) vectors
    * enter the store — a later near-dup of a dropped vector still
    * pairs against its surviving canonical, whose embedding is
    * near-identical by construction. */
  def embNearDupIngestBatch(store: graft.operators.EmbStore,
      batch: DataFrame, threshold: Double,
      maxBucketSize: Int =
        graft.operators.SimilaritySearch.EmbLshMaxBucketSize,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    requireLongIds("embNearDupIngestBatch", store, batch, "vec_id", "vec")
    val pairs = store.probe(batch, threshold, maxBucketSize,
      excludeBatchIds = true)
    ingestStep(store, batchId,
      dropSurvivors(batch, pairs, "vec_id", "vec_a", "vec_b"), maxSegments)(
      store.ingest(_, batchId))
  }

  /** Chunk → hash-embed projection of the TEXT near-dup ingest loop,
    * with the doc id riding along (`__doc`) so one materialization
    * serves BOTH the probe and the survivor-filtered ingest: vec_id =
    * doc_id * vecBase + chunk_idx (the
    * [[graft.packs.TextOps.ChunkVecBase]] arithmetic), scan-side
    * throughout — no shuffle, no UDF. The id range is guarded
    * scan-side: vec_id = id·vecBase + chunk is only
    * injective-and-roll-up-exact for 0 ≤ id < Long.MaxValue / vecBase
    * — an xxhash64 surrogate id (negative for half its range,
    * magnitude ~9e18) would silently overflow and attribute chunk
    * pairs to the WRONG documents, so it fails loudly here instead
    * (re-key with a nonnegative bounded surrogate). */
  private def textChunkVectors(docs: DataFrame, idCol: String,
      textCol: String, chunkTokens: Int, chunkOverlap: Int, vecBase: Long,
      embedDim: Int): DataFrame = {
    val maxId = Long.MaxValue / vecBase
    val guarded = when(col(idCol) < 0 || col(idCol) >= maxId,
      raise_error(concat(
        lit(s"textNearDupIngestBatch: doc id outside [0, $maxId) would " +
          s"overflow vec_id = id * $vecBase + chunk: "),
        col(idCol).cast("string"))).cast("long"))
      .otherwise(col(idCol))
    graft.operators.TextAnalysis
      .chunkDocuments(docs.select(guarded.as(idCol), col(textCol)), idCol,
        textCol, chunkTokens, chunkOverlap)
      .select(col(idCol).as("__doc"),
        (col(idCol) * vecBase + col("chunk_idx")).as("vec_id"),
        graft.functions.HashEmbed(col("text"), embedDim).as("embedding"))
  }

  /** The TEXT-side twin of [[embNearDupIngestBatch]] — semantic
    * near-dup dedup-at-ingest over raw documents, DOC granularity:
    * (1) chunk the batch and hash-embed each chunk (any learned
    * encoder drops in at that seam), (2) probe the persisted
    * [[graft.operators.EmbStore]] for chunk pairs ≥ threshold against
    * the accepted corpus (zero hyperplane/cast/norm work over the seen
    * side), (3) roll chunk pairs up to DISTINCT-document pairs
    * (same-doc overlapping chunks are trivially similar) and drop the
    * batch member of each seen-pair and the later doc of each
    * batch-internal pair — drops chain, (4) ingest the SURVIVING docs'
    * chunk vectors under the batchId replay guard. Returns the
    * surviving doc rows. Replay-exact by the same mechanism as the
    * vector loop: the batch's own chunk ids are excluded from the seen
    * view, so an at-least-once replay recomputes the identical drop
    * set. Same id contract: doc ids unique ACROSS the stream, and
    * bounded below vecBase chunks per doc. */
  def textNearDupIngestBatch(store: graft.operators.EmbStore,
      batch: DataFrame, idCol: String, textCol: String, threshold: Double,
      chunkTokens: Int, chunkOverlap: Int, vecBase: Long, embedDim: Int,
      maxBucketSize: Int =
        graft.operators.SimilaritySearch.EmbLshMaxBucketSize,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    requireLongIds("textNearDupIngestBatch", store, batch, idCol)
    // ONE chunk+embed materialization: the probe and the
    // survivor-filtered ingest both read these blocks — re-deriving
    // the ingest rows from the survivors' text would re-run the
    // dominant md5-per-token embedding over most of the batch
    val vecs = textChunkVectors(batch, idCol, textCol, chunkTokens,
      chunkOverlap, vecBase, embedDim).seamCheckpoint()
    val pairs = store.probe(vecs.drop("__doc"), threshold, maxBucketSize,
      excludeBatchIds = true)
    val docPairs = pairs
      .select(expr(s"vec_a div $vecBase").as("doc_a"),
        expr(s"vec_b div $vecBase").as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
    ingestStep(store, batchId,
      dropSurvivors(batch, docPairs, idCol, "doc_a", "doc_b"), maxSegments)(
      s => store.ingest(vecs.join(broadcast(s.select(col(idCol).as("__doc"))),
        Seq("__doc"), "left_semi").drop("__doc"), batchId))
  }

  /** Token-level boilerplate removal at ingest: strip each arriving
    * batch of every >= k-token span already duplicated — against the
    * persisted gram corpus OR within the batch itself — then publish
    * the batch's own windows for future batches to match. Call inside
    * foreachBatch; returns (idCol, clean_text, n_dropped).
    *
    * The store ingests grams of the ORIGINAL text, not the cleaned
    * rewrite: the gram table records what the corpus has SEEN, so
    * boilerplate keeps matching future re-occurrences even after every
    * stored doc had it stripped downstream (cleaned-gram ingest would
    * quietly forget a span the moment its last carrier was cleaned).
    *
    * Replay-exact: the probe always anti-joins the batch's own ids out
    * of the seen view ([[graft.operators.GramStore.probe]]
    * `excludeBatchIds` — a first run is unaffected, the store has no
    * such rows yet), so an at-least-once replay after the merge
    * recomputes the identical span set; the merge itself is
    * batchId-idempotent. Same id contract as the other loops: ids
    * unique ACROSS the stream, not just within a batch. */
  def spanIngestBatch(store: graft.operators.GramStore, batch: DataFrame,
      idCol: String, textCol: String,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    requireLongIds("spanIngestBatch", store, batch, idCol)
    val b = readOnce(batch, idCol, textCol)
    val spans = store.probe(b, idCol, textCol, excludeBatchIds = true)
    // fan = false: probe-sized batch by contract
    ingestStep(store, batchId, graft.operators.Dedup.stripSpans(b, spans,
      idCol, textCol, fan = false), maxSegments)(
      _ => store.ingest(b, idCol, textCol, batchId))
  }

  /** The (id, text, carried) columns of a batch whose probe, rewrite and
    * ORIGINAL text ingest all read it, materialized up front: the source
    * is evaluated once per batch, on a first run and on a replay alike. A
    * lazy checkpoint would not do — its first reader (the replay's sink)
    * may take it from several concurrent branches, each computing it. */
  private def readOnce(batch: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame =
    batch.select((idCol +: textCol +: carry).map(col): _*)
      .seamCheckpoint(eager = true)

  /** Paragraph-dedup scrub at ingest — CCNet stage 1 as a foreachBatch
    * body: scrub the ARRIVING batch against the persisted seen-unit
    * table plus itself ([[graft.operators.ParagraphStore.scrubProbe]]),
    * then publish the batch's units. `excludeBatchIds` is always on
    * (the [[spanIngestBatch]] replay argument verbatim): a first run is
    * unaffected — the store carries no rows under these doc ids — and
    * an at-least-once replay after the merge recomputes the identical
    * scrub; the merge itself is batchId-idempotent. Feeding ordered
    * batches makes the emitted stream equal the one-shot
    * [[graft.operators.Paragraphs.scrubByWindow]] row-for-row
    * ([[graft.operators.ParagraphStore]]'s equivalence contract).
    * `carry` columns of `batch` ride along to the scrub rows from the
    * same single read. */
  def paragraphIngestBatch(store: graft.operators.ParagraphStore,
      batch: DataFrame, idCol: String, textCol: String,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget,
      carry: Seq[String] = Nil): DataFrame = {
    requireLongIds("paragraphIngestBatch", store, batch, idCol)
    val b = readOnce(batch, idCol, textCol, carry)
    ingestStep(store, batchId, store.scrubProbe(b, idCol, textCol,
      excludeBatchIds = true, carry = carry), maxSegments)(
      _ => store.ingest(b, idCol, textCol, batchId))
  }

  /** The CCNet chain as a foreachBatch body — the streaming twin of
    * [[graft.packs.PipelineOps.pipelineCurateCcnet]]'s stage order:
    * paragraph scrub FIRST ([[paragraphIngestBatch]] — repeated units
    * die against the persisted seen-unit table before anything scores
    * them), then the corpus-relative LM floor / mixture / exact gate /
    * near-dup drop over the SCRUBBED text ([[curateIngestBatch]],
    * whose `floorStore` must carry the negated-millinat LM key — see
    * [[ccnetFloorKey]]). Fully-scrubbed docs (empty clean text) exit
    * before the floor so they can't drag the histogram. Every stage
    * keeps its own replay discipline; the composition adds none.
    * Returns the batch's survivors keyed by the SCRUBBED text. */
  def ccnetIngestBatch(parStore: graft.operators.ParagraphStore,
      floorStore: QualityFloorStore,
      exactStore: graft.operators.BloomStore,
      bandStore: graft.operators.BandStore, seenDocs: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, langCol: String,
      ratesBp: Map[String, Int], defaultBp: Int,
      threshold: Double = graft.operators.Dedup.NgramThreshold,
      maxBucketSize: Int = graft.operators.Dedup.NgramMaxBlockSize,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    curateIngestBatch(floorStore, exactStore, bandStore, seenDocs,
      ccnetScrubbed(parStore, batch, idCol, textCol, langCol, batchId,
        maxSegments), idCol, textCol, langCol, ratesBp, defaultBp,
      threshold, maxBucketSize, batchId, maxSegments)
  }

  /** CCNet stage 1 of both CCNet bodies: the paragraph scrub
    * ([[paragraphIngestBatch]]) with fully-scrubbed docs (empty clean
    * text) dropped, as (idCol, langCol, scrubbed text as textCol). */
  private def ccnetScrubbed(parStore: graft.operators.ParagraphStore,
      batch: DataFrame, idCol: String, textCol: String, langCol: String,
      batchId: Long, maxSegments: Int): DataFrame =
    paragraphIngestBatch(parStore, batch, idCol, textCol, batchId,
        maxSegments, carry = Seq(langCol))
      .filter(length(col("clean_text")) > 0)
      .select(col("doc_id").as(idCol), col(langCol),
        col("clean_text").as(textCol))

  /** CCNet's head/middle/tail bucket split as a foreachBatch body —
    * the streaming twin of
    * [[graft.packs.PipelineOps.ccnetBucketsBody]]: paragraph scrub
    * first ([[paragraphIngestBatch]], same stage order as
    * [[ccnetIngestBatch]]), then the batch's scrubbed text is LM-scored
    * with the store's pinned key and its per-(lang, quality_bp) mass
    * merged into `bucketStore` (a [[GroupedBucketStore]] built by
    * [[ccnetBucketStore]]). Bucket LABELS are read-time
    * (`bucketStore.bucketed` over the accumulated scored rows) —
    * retroactively corpus-relative like every floor here, so on a
    * finalized horizon the labels equal the batch form's (spec-pinned).
    * Replay discipline: the scrub store and the histogram merge are
    * each batchId-idempotent; the returned scored rows are
    * deterministic per batch. Returns the batch's (id, lang,
    * quality_bp) scored rows for the caller's accumulation sink. */
  def ccnetBucketsIngestBatch(parStore: graft.operators.ParagraphStore,
      bucketStore: GroupedBucketStore, batch: DataFrame, idCol: String,
      textCol: String, langCol: String,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    val scored = ccnetScrubbed(parStore, batch, idCol, textCol, langCol,
        batchId, maxSegments)
      .select(col(idCol), col(langCol),
        bucketStore.qualityBp(col(textCol)).as("quality_bp"))
    ingestStep(bucketStore, batchId, scored)(bucketStore.merge(_, batchId))
  }

  /** The CCNet bucket store: per-LANGUAGE cutoff ladder at the batch
    * pipeline's thirds ([[graft.packs.PipelineOps.CcnetHeadFrac]] /
    * CcnetMidFrac — the same constants the oracle embeds), keyed by
    * the negated-millinat LM cost ([[ccnetFloorKey]]). */
  def ccnetBucketStore(langCol: String,
      t: graft.functions.UnigramTable): GroupedBucketStore =
    new GroupedBucketStore(
      Seq(graft.packs.PipelineOps.CcnetHeadFrac,
        graft.packs.PipelineOps.CcnetMidFrac),
      Seq("head", "middle", "tail"), langCol, ccnetFloorKey(t))

  /** The CCNet floor key for [[ccnetIngestBatch]]'s `floorStore`: the
    * NEGATED integer millinat mean LM cost — the exact key the batch
    * pipeline floors on (pipeline_curate_lm / pipeline_curate_ccnet),
    * as a pluggable [[QualityFloorStore]] scoring expression. */
  def ccnetFloorKey(t: graft.functions.UnigramTable)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.bridge
    text => {
      val cost = graft.functions.UnigramLmCost(text, t)
      val denom = graft.functions.UnigramTokenCount(text, t) * lit(1000L)
      -bridge.column(org.apache.spark.sql.catalyst.expressions
        .IntegralDivide(bridge.expression(cost), bridge.expression(denom)))
    }
  }

  /** Training-output layout at ingest — the streaming twin of
    * [[graft.operators.TextAnalysis.packSequences]], as a foreachBatch
    * body: shard/order/rank the ARRIVING batch with the identical
    * hash-window machinery the batch operator uses
    * ([[graft.operators.TextAnalysis.shardPackRows]]), then finish it
    * into global positions and sequence ids on top of the store's
    * accumulated per-shard totals
    * ([[graft.operators.TextAnalysis.packColumns]] — one shared
    * arithmetic, so stream and batch cannot drift). The layout is
    * arrival-major (the stream appends to each shard's token stream;
    * hash order applies within a batch — the already-emitted layout is
    * immutable, documented delta vs the all-corpus hash order of the
    * batch form), and the seams are exact: a batch's first doc starts
    * in the very token slot the previous batch ended, mid-sequence
    * included.
    *
    * Replay-exact: base offsets read the stream's mass STRICTLY BEFORE
    * this batchId ([[PackStore.totalsBefore]]), so an at-least-once
    * replay — its own contribution already merged under its id — sees
    * the original base and re-emits the identical rows; the totals
    * merge itself is batchId-idempotent. State is ≤ 2·nShards rows
    * regardless of stream length. Returns the batch's packed rows
    * (same schema as the batch operator) for the caller's sink. */
  def packIngestBatch(store: PackStore, batch: DataFrame, idCol: String,
      textCol: String, batchId: Long,
      countOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        t => size(graft.operators.TextAnalysis.tokens(t))): DataFrame = {
    import graft.operators.TextAnalysis
    require(batchId >= 0,
      s"packIngestBatch needs a real (monotonic, >= 0) batchId for its " +
        s"base-offset arithmetic, got $batchId")
    val spark = batch.sparkSession
    // countOf = the token-denomination seam (whitespace default; a
    // trained BPE count via graft.functions.BpeTokenCount) — the
    // stream twin inherits the batch operator's seam so the two
    // denominations share ONE window/hash/fold body here too
    val rows = TextAnalysis.shardPackRowsCounted(batch, idCol, store.nShards,
      countOf(col(textCol)))
    // ≤ nShards rows — always broadcast, the corpus never re-shuffles
    // on shard for the join
    val withBase = rows
      .join(broadcast(store.totalsBefore(spark, batchId)), Seq("shard"), "left")
      .na.fill(0L, Seq("base_docs", "base_toks"))
    // the contribution derives from the checkpointed OUTPUT (packed
    // rows carry shard + n_tokens), zero recompute
    ingestStep(store, batchId, TextAnalysis.packColumns(withBase, idCol,
      store.budget, col("base_docs"), col("base_toks")))(
      packed => store.merge(packed.groupBy(col("shard")).agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens")), batchId))
  }

  /** Padded-pack ingest — the streaming twin of
    * [[graft.operators.TextAnalysis.packSequencesPadded]]: the arriving
    * batch is shard/order/ranked by the shared window machinery, then
    * run through the SAME per-shard fold
    * ([[graft.operators.TextAnalysis.paddedPackColumns]]) re-seeded
    * from the store's resume triples, so every emitted batch continues
    * each shard's token stream exactly — a document that fits the
    * current sequence's remainder lands there even across a batch (or
    * restart) boundary; one that doesn't pads it out, exactly as the
    * batch operator would have.
    *
    * Replay-exact for the same reason [[packIngestBatch]] is: resume
    * state reads STRICTLY BEFORE this batchId
    * ([[PaddedPackStore.stateBefore]]), and the post-batch state the
    * merge records derives from the batch's OUTPUT (its per-shard last
    * row — an argmax over the emitted rows), never a rescan. State is
    * ≤ 2·nShards resume triples regardless of stream length. Returns
    * the batch's packed rows (same schema as the batch operator, pads
    * included) for the caller's sink. */
  def packPaddedIngestBatch(store: PaddedPackStore, batch: DataFrame,
      idCol: String, textCol: String, batchId: Long,
      countOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        t => size(graft.operators.TextAnalysis.tokens(t))): DataFrame = {
    import graft.operators.TextAnalysis
    require(batchId >= 0,
      s"packPaddedIngestBatch needs a real (monotonic, >= 0) batchId for " +
        s"its resume arithmetic, got $batchId")
    val spark = batch.sparkSession
    // same token-denomination seam as packIngestBatch
    val rows = TextAnalysis.shardPackRowsCounted(batch, idCol, store.nShards,
      countOf(col(textCol)))
    // ≤ nShards resume rows — always broadcast; the broadcast hash join
    // streams the window output, so the fold still sees each shard as
    // one contiguous ordered run with no extra exchange
    val withBase = rows
      .join(broadcast(store.stateBefore(spark, batchId)), Seq("shard"), "left")
      .na.fill(0L, Seq("base_docs", "base_seq", "base_off"))
    // the resume state derives from the checkpointed OUTPUT: the fold
    // already emitted its own state after every row (next_seq/next_off)
    // — persisting it is a per-shard last-row SELECTION, never a
    // re-spelling of the recurrence
    ingestStep(store, batchId,
      TextAnalysis.paddedPackColumns(withBase, idCol, store.budget)) { packed =>
      val last = packed.groupBy(col("shard")).agg(
        max(struct(col("pos"), col("next_seq"), col("next_off"))).as("l"))
      store.merge(last.select(col("shard"), col("l.pos").as("n_docs"),
        col("l.next_seq").as("next_seq"), col("l.next_off").as("next_off")),
        batchId)
    }.drop("next_seq", "next_off")
  }

  /** foreachBatch body for MEDIA dedup-at-ingest — the multimodal twin
    * of [[embNearDupIngestBatch]] over a [[graft.operators.MediaHashStore]]:
    * (1) decode+hash the arriving assets ONCE (the expensive codec
    * step — checkpointed so the probe, drop and merge all read the
    * one materialization), (2) probe against the persisted banded
    * fingerprint corpus with the batch's own ids excluded
    * (replay-exact), (3) drop every batch asset hamming-near a seen
    * asset, and the later id of each batch-internal pair (the shared
    * [[dropSurvivors]] chain policy), (4) merge the SURVIVORS' band
    * rows (batchId-idempotent). Returns the surviving hash rows — the
    * caller sinks the asset bytes keyed by them. Same
    * unique-id-across-the-stream contract as the other loops. */
  def mediaDedupIngestBatch(store: graft.operators.MediaHashStore,
      batchHashes: DataFrame,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame = {
    val hashes = batchHashes.seamCheckpoint()
    val pairs = store.probe(hashes, excludeBatchIds = true)
    ingestStep(store, batchId,
      dropSurvivors(hashes, pairs, "asset_id", "asset_a", "asset_b"),
      maxSegments, checkpoint = false)(store.ingest(_, batchId))
  }

  /** foreachBatch body maintaining the DSIR importance model at ingest
    * ([[graft.operators.DsirStore]]): each accepted batch merges its
    * own PARTIAL bucket counts — O(batch) compute, ≤ `buckets` rows
    * written, the cheapest incremental state any store here carries
    * (counts are additive; no probe/anti-join is even needed). The
    * target flag is a per-row predicate, so a batch may mix target and
    * raw documents freely. Selection against the CURRENT model is
    * available at any moment via `store.select` — the cutoff-lag
    * semantics match [[QualityFloorStore]]: a doc is ranked under the
    * model as of read time, not arrival time, which is exactly the
    * corpus-relative behavior the batch form has over its full input.
    * Returns the batch unchanged (model maintenance only — DSIR does
    * not gate at ingest; it RANKS at selection time). */
  def dsirIngestBatch(store: graft.operators.DsirStore, batch: DataFrame,
      idCol: String, textCol: String,
      isTarget: org.apache.spark.sql.Column,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame =
    ingestStep(store, batchId, batch, maxSegments, checkpoint = false)(
      store.ingest(_, idCol, textCol, isTarget, batchId))

  /** BPE tokenizer-model maintenance per micro-batch — the DSIR loop's
    * shape over the OTHER additive trained artifact: each batch's
    * partial word counts append to the persisted [[graft.operators.BpeStore]]
    * (batchId replay-safe; a double-counted batch would bias the
    * heavy-hitter draw and CHANGE the derived merges), compaction under
    * the segment budget keeps the count table one row per word.
    * Maintenance-only: the batch passes through for the caller's sink.
    * Derivation (`store.merges`) runs at retokenization time, not per
    * batch — a tokenizer model is refreshed per corpus snapshot, not
    * per micro-batch (retokenizing the past under every intermediate
    * model would make token counts time-dependent). */
  def bpeIngestBatch(store: graft.operators.BpeStore, batch: DataFrame,
      textCol: String,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame =
    ingestStep(store, batchId, batch, maxSegments, checkpoint = false)(
      store.ingest(_, textCol, batchId))

  /** Streaming curation with a CORPUS-RELATIVE quality floor — the
    * composition [[curateStream]] can't express with its fixed
    * `qualityMin`: keep the top keepFrac of the WHOLE corpus seen so
    * far by quality. Call inside foreachBatch; it (a) merges the
    * batch's quality histogram into `store` (value-domain-bounded
    * state, published cutoff) and (b) returns the batch's rows scored
    * and mixture-gated, for the caller to append to its doc sink. The
    * floor itself applies at READ time — `store.curated(sink)` — so
    * the curated view is retroactively corpus-relative on any
    * finalized horizon, exactly matching the batch composition
    * qualityFloor ∘ stratifiedSample (CurateRelativeSpec pins it).
    * The stateless mixture gate stays emit-time (a pure function of
    * the row, same expression as batch); only the corpus-relative
    * verdict is deferred — that split is the point: global statistics
    * belong to the store, per-row gates to the stream. The histogram
    * sees EVERY doc (the floor is corpus-relative over the full
    * stream, as the batch form is over the full table); the mixture
    * gate thins what the sink keeps. */
  def curateRelativeBatch(store: QualityFloorStore, batch: DataFrame,
      idCol: String, textCol: String, langCol: String,
      ratesBp: Map[String, Int], defaultBp: Int,
      batchId: Long = VersionedParquetStore.NoBatchId): DataFrame =
    curateRelative(store, store.qualityBp, batch, idCol, textCol, langCol,
      ratesBp, defaultBp, batchId)(
      scored => store.merge(scored.select(col("quality_bp")), batchId))

  /** Grouped (per-language) twin of [[curateRelativeBatch]]: the
    * histogram merge carries (group, quality_bp) mass into a
    * [[GroupedQualityFloorStore]], so read-time verdicts apply each
    * language's OWN corpus-relative floor — a multilingual stream
    * where a single global floor would starve the lower-scoring
    * languages keeps every language's top fraction instead. The
    * mixture gate still thins emit-time; same replay and checkpoint
    * discipline as the global form (the scoring regex pass runs once
    * per batch, never per consumer). */
  def curateRelativeByGroupBatch(store: GroupedQualityFloorStore,
      batch: DataFrame, idCol: String, textCol: String, langCol: String,
      ratesBp: Map[String, Int], defaultBp: Int,
      batchId: Long = VersionedParquetStore.NoBatchId): DataFrame =
    curateRelative(store, store.qualityBp, batch, idCol, textCol, langCol,
      ratesBp, defaultBp, batchId)(scored => store.merge(
        scored.select(col(langCol).as(store.groupCol), col("quality_bp")),
        batchId))

  /** The shared body of both corpus-relative curate loops: score, merge
    * the batch's histogram mass (`merge`) through the ingest step — the
    * regex-heavy scoring is checkpointed once for the merge AND the
    * sink, and skipped entirely on a replay — then the emit-time
    * mixture gate. */
  private def curateRelative(store: ReplayGuarded,
      qualityBp: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      batch: DataFrame, idCol: String, textCol: String, langCol: String,
      ratesBp: Map[String, Int], defaultBp: Int, batchId: Long)(
      merge: DataFrame => Unit): DataFrame =
    graft.operators.TextAnalysis.stratifiedSample(
      ingestStep(store, batchId,
        batch.withColumn("quality_bp", qualityBp(col(textCol))))(merge),
      langCol, idCol, ratesBp, defaultBp)

  /** Online-classifier ingest — the streaming twin of the
    * `classifier_score_store` ladder ([[graft.operators.NbStore]]):
    * each batch FIRST merges its heuristic-labeled sufficient
    * statistics into the persisted counts (additive, batchId replay
    * guard), THEN scores its documents under the model derived from
    * the post-merge counts. Update-then-predict is what makes replays
    * exact: a re-delivered batch's merge no-ops, so it re-scores under
    * the IDENTICAL model and emits the identical rows — score-then-
    * update would re-score a replay under the post-batch model and
    * silently drift the sink. The model keeps learning as the corpus
    * streams in (labels are heuristic-derived — no annotation step
    * gates the stream); early batches score under less-trained weights
    * by design, and a sink wanting verdicts-as-of-now re-scores at
    * read time with `store.model` (the quality-floor read-time
    * re-judging pattern).
    *
    * Scale shape: the merge ships only the batch's ≤ 2·dim + 2 partial
    * count rows; model derivation collects the bounded summed table
    * once per batch; scoring is the scan-side one-pass native
    * expression. Throws (loudly) while the cumulative counts still
    * lack a class — a deployment warm-starts the store or buffers
    * until both classes have arrived ([[NbIngestSpec]] pins the
    * contract).
    *
    * Returns (idCol, clf_score, keep) — keep is the EXACT integer
    * log-odds sign, never the rounded score. */
  def classifierIngestBatch(store: graft.operators.NbStore,
      batch: DataFrame, idCol: String, textCol: String,
      batchId: Long = VersionedParquetStore.NoBatchId): DataFrame = {
    val b = ingestStep(store, batchId, batch)(
      store.ingest(_, idCol, textCol, batchId))
    val m = store.model(b.sparkSession)
    // feature space rides the store (rawScoreExprOf): a bigram-trained
    // store scores with the bigram walker, same loop otherwise
    b.select(col(idCol),
      store.scoreExprOf(col(textCol), m).as("clf_score"),
      (store.rawScoreExprOf(col(textCol), m) > 0).as("keep"))
  }

  /** The MASTER chain as a foreachBatch body — the streaming twin of
    * [[graft.packs.PipelineOps.pipelineCurateMaster]]'s stage order:
    * online-classifier admission gate FIRST (update-then-gate, the
    * [[curateClassifierIngestBatch]] discipline — every doc teaches
    * the model, only positive-log-odds docs proceed), then the CCNet
    * chain over the admitted docs ([[ccnetIngestBatch]]: paragraph
    * scrub → LM-keyed corpus-relative floor → mixture → exact gate →
    * near-dup drop, each against its persisted store). The batch
    * form's Gopher verdict is a read-time ATTRIBUTE, not a gate —
    * a sink wanting it joins [[graft.packs.TextOps.gopherVerdictOf]]
    * over the accumulated docs (stateless, pure function of text).
    * Every stage keeps its own batchId replay discipline; the
    * composition adds none. Returns the batch's survivors keyed by
    * the SCRUBBED text. */
  def masterIngestBatch(nbStore: graft.operators.NbStore,
      parStore: graft.operators.ParagraphStore,
      floorStore: QualityFloorStore,
      exactStore: graft.operators.BloomStore,
      bandStore: graft.operators.BandStore, seenDocs: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, langCol: String,
      ratesBp: Map[String, Int], defaultBp: Int,
      threshold: Double = graft.operators.Dedup.NgramThreshold,
      maxBucketSize: Int = graft.operators.Dedup.NgramMaxBlockSize,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame =
    ccnetIngestBatch(parStore, floorStore, exactStore, bandStore, seenDocs,
      nbAdmitted(nbStore, batch, idCol, textCol, batchId, maxSegments),
      idCol, textCol, langCol, ratesBp, defaultBp,
      threshold, maxBucketSize, batchId, maxSegments)

  /** [[curateIngestBatch]] with the TRAINED-classifier admission gate
    * in FRONT — the batch pipeline_curate_classifier ordering as a
    * stream: the batch first teaches the online model (count merge
    * under the replay guard — EVERY doc counts toward the statistics,
    * admitted or not, the same every-doc-counts reasoning as the
    * quality histogram), then only positive-log-odds docs proceed into
    * the histogram/mixture/dedup stack. Update-then-gate keeps replays
    * exact: a re-delivered batch's merge no-ops, so it re-filters
    * under the identical model and the downstream stores see the
    * identical survivor set. The gate is a scan-side filter (the
    * post-merge model rides along as one dim-long array) — no join
    * against the scored rows. */
  def curateClassifierIngestBatch(nbStore: graft.operators.NbStore,
      floorStore: QualityFloorStore,
      exactStore: graft.operators.BloomStore,
      bandStore: graft.operators.BandStore, seenDocs: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, langCol: String,
      ratesBp: Map[String, Int], defaultBp: Int,
      threshold: Double = graft.operators.Dedup.NgramThreshold,
      maxBucketSize: Int = graft.operators.Dedup.NgramMaxBlockSize,
      batchId: Long = VersionedParquetStore.NoBatchId,
      maxSegments: Int = DefaultSegmentBudget): DataFrame =
    curateIngestBatch(floorStore, exactStore, bandStore, seenDocs,
      nbAdmitted(nbStore, batch, idCol, textCol, batchId, maxSegments),
      idCol, textCol, langCol, ratesBp, defaultBp,
      threshold, maxBucketSize, batchId, maxSegments)

  /** The update-then-gate prologue of both classifier-gated chains:
    * the batch teaches the online model through the ingest step (one
    * checkpointed read feeds the count merge, the gate and the chain),
    * then only its positive-log-odds docs pass, under the post-merge
    * model. The gate inherits the store's feature space: a bigram
    * NbStore makes the chain the fastText-features-gated curate loop
    * with zero other changes. */
  private def nbAdmitted(nbStore: graft.operators.NbStore, batch: DataFrame,
      idCol: String, textCol: String, batchId: Long,
      maxSegments: Int): DataFrame = {
    val b = ingestStep(nbStore, batchId, batch, maxSegments)(
      nbStore.ingest(_, idCol, textCol, batchId))
    b.filter(nbStore.rawScoreExprOf(col(textCol),
      nbStore.model(b.sparkSession)) > 0)
  }
}
