package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.packs.WindowOps

/** Streaming twins of the conversational (thread) family — the last
  * curation family that was batch-only (VERDICT r14 gap #2).
  *
  * Assembly is the merging-session shape: `session_window(ts, 2 hours)`
  * per user accumulates a session's turns in the state store across
  * micro-batches and emits the finalized thread ONCE when the watermark
  * passes the session end (Append mode — state bounded by open sessions
  * inside the horizon, the [[WindowStreams]] discipline). The gap rule
  * is equivalent to the batch gaps-and-islands sessionize (same-session
  * iff consecutive gap < 2 h), the turn projection and the aggregation
  * exprs are SHARED code ([[WindowOps.turnRows]] /
  * [[WindowOps.threadAggExprs]]), and ThreadStreamSpec pins stream ==
  * batch on the finalized horizon for threads AND pairs.
  *
  * Dedup-at-ingest composes the existing exact-gate loop: finalized
  * threads are documents (`thread_key` is the doc id, the thread string
  * the text), so behavioral duplicates drop through the SAME
  * [[StreamingPipelines.exactGateBatch]] bloom-store gate the document
  * pipelines run, and survivors' SFT pairs extract statelessly from the
  * emitted turn arrays ([[WindowOps.pairsFromTurns]]).
  */
object ThreadStreams {

  /** Finalized (user_id, thread_key, n_turns, thread, turns) rows from
    * a streaming event source with event-time column `ts`. The `turns`
    * array rides along for the stateless pair extraction. */
  def assembledThreadsStream(events: DataFrame,
      watermarkDelay: String): DataFrame = {
    val exprs = WindowOps.threadAggExprs
    WindowOps.turnRows(events)
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
      .agg(exprs.head, exprs.tail: _*)
      .select(col("user_id"), col("thread_key"), col("n_turns"),
        col("thread"), col("turns"))
  }

  /** [[graft.packs.WindowOps.threadTurnPairs]]'s streaming twin:
    * finalized threads' consecutive (prompt, response) pairs — the
    * stateless [[WindowOps.pairsFromTurns]] on top of the Append-mode
    * assembly, so each pair is emitted exactly once. */
  def threadTurnPairsStream(events: DataFrame,
      watermarkDelay: String): DataFrame =
    WindowOps.pairsFromTurns(assembledThreadsStream(events, watermarkDelay))

  /** foreachBatch body for thread dedup-at-ingest: the arriving batch
    * of FINALIZED threads (from [[assembledThreadsStream]] — each
    * thread arrives exactly once, so replay protection reduces to the
    * bloom store's md5 gate) drops behavioral duplicates — threads
    * whose serialized turn sequence was already accepted — via the
    * document pipelines' exact gate, then returns the survivors with
    * their SFT turn pairs extracted: the streaming form of
    * `pipeline_curate_threads`'s dedup step at the stream seam. Returns
    * the SURVIVING thread rows (the ingest-loop convention —
    * [[StreamingPipelines.nearDupIngestBatch]] returns batch
    * survivors); their SFT pairs extract statelessly with
    * [[WindowOps.pairsFromTurns]]. Survivor hashes merge into the
    * sketch under the batchId, so an at-least-once replay re-gates
    * against the ORIGINAL accepted set and merges nothing twice. */
  def threadCurateIngestBatch(exactStore: graft.operators.BloomStore,
      seenThreads: DataFrame, batch: DataFrame,
      batchId: Long = VersionedParquetStore.NoBatchId): DataFrame = {
    // re-fix the column order: the gate's USING join moves thread_key
    // to column 0, and a positional consumer (tuple encoder, union)
    // of the survivors would silently read the wrong fields
    val survivors = StreamingPipelines.exactGateBatch(exactStore,
        seenThreads, batch, "thread_key", "thread")
      .select(batch.columns.map(col): _*)
    StreamingPipelines.ingestStep(exactStore, batchId, survivors)(
      StreamingPipelines.mergeTextHashes(exactStore, _, "thread", batchId))
  }
}
