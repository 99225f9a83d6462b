package graft.streaming

import java.nio.file.Paths

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.operators.ClickThroughRate

/** The reference's CTR KTable as a foreachBatch merge target
  * (SURVEY.md §3.2: update-mode aggregation can't chain after a
  * stream-stream join, so the per-batch increments get merged into an
  * external keyed table).
  *
  * Table schema: (ad_id, num_impressions, num_clicks, last_batch) —
  * `last_batch` is the highest foreachBatch id that touched the row, so
  * a batch's changed keys are read back from the merged table alone
  * ([[touchedBy]]) without executing the batch a second time.
  *
  * The merge is fully distributed: each batch's increments (already
  * aggregated to group cardinality by `ClickThroughRate.adCounts`) are
  * unioned with the current table and re-aggregated by key, and the
  * result is written as a new immutable version directory — the
  * copy-on-write version-publish machinery lives in [[VersionedParquetStore]]
  * (shared with the quality-floor store), including the at-least-once
  * replay guard: pass foreachBatch's batchId to [[merge]] and a
  * replayed micro-batch's increments apply exactly once. Nothing is
  * ever collected to the driver on the merge path — `snapshot()` is
  * the queryable-store READ surface (bounded by ad cardinality, the
  * reference's interactive-query analog), not part of the pipeline.
  */
final class CtrStore(dir: String) {

  // restart adoption: a restarted JVM resumes the committed version
  // (and its replay guard) instead of silently zeroing the KTable —
  // the whole point of a PERSISTED merge target
  private val store = new VersionedParquetStore(dir)

  /** Current table as a DataFrame: (ad_id, num_impressions, num_clicks,
    * last_batch). Read with the declared schema: no footer-inference
    * job per read, and a version written before `last_batch` existed
    * reads it as null. */
  def table(spark: SparkSession): DataFrame = store.current match {
    case None => spark.createDataFrame(java.util.List.of[Row](), CtrStore.Schema)
    case Some(d) => spark.read.schema(CtrStore.Schema).parquet(d)
  }

  /** The rows the merge of `batchId` touched, with their merged totals.
    * A stream replays only its last batch, so a replay (merge skipped)
    * reads the same rows again. */
  def touchedBy(spark: SparkSession, batchId: Long): DataFrame =
    table(spark).filter(col("last_batch") === batchId)

  /** Merge a batch of (ad_id, num_impressions, num_clicks) increments:
    * union + keyed re-aggregation + copy-on-write publish. Pass the
    * foreachBatch `batchId` so a replayed batch is a no-op. */
  def merge(increments: DataFrame,
      batchId: Long = VersionedParquetStore.NoBatchId): Unit = {
    val spark = increments.sparkSession
    val inc = increments.select(
      col("ad_id"),
      col("num_impressions").cast("long").as("num_impressions"),
      col("num_clicks").cast("long").as("num_clicks"),
      lit(batchId).as("last_batch"))
    store.publish(batchId) { nextDir =>
      table(spark).unionByName(inc)
        .groupBy(col("ad_id"))
        .agg(sum(col("num_impressions")).as("num_impressions"),
          sum(col("num_clicks")).as("num_clicks"),
          max(col("last_batch")).as("last_batch"))
        .write.mode(SaveMode.Overwrite).parquet(nextDir)
    }
  }

  /** Faithful A7 snapshot (quirks included) — the queryable-store read
    * API; the collect here is the OUTPUT surface (|ads| rows), not the
    * merge path. Requires an active SparkSession. */
  def snapshot(): Map[String, (Long, Long, Double)] = {
    val t = table(SparkSession.active)
    t.select(col("ad_id"), col("num_impressions"), col("num_clicks"),
        ClickThroughRate.ctrFaithful(t))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
  }
}

object CtrStore {
  private val Schema: StructType = new StructType()
    .add("ad_id", StringType)
    .add("num_impressions", LongType)
    .add("num_clicks", LongType)
    .add("last_batch", LongType)

  /** The store of a query checkpointed at `checkpoint`, kept under
    * `<checkpoint>/ctr_store` so a restarted query resumes the counts
    * and the replay guard that belong to its offsets. Local paths only:
    * the store adopts and retires versions through java.nio. */
  private[streaming] def atCheckpoint(checkpoint: String): CtrStore = {
    val uri = new Path(checkpoint).toUri
    require(Option(uri.getScheme).forall(_ == "file"),
      s"the CTR store needs a local checkpoint location, got $checkpoint")
    new CtrStore(Paths.get(uri.getPath, "ctr_store").toString)
  }
}
