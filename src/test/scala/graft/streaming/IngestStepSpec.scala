package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.{MediaHashStore, Multimodal, NbStore}
import graft.packs.{PipelineOps, TextOps}

/** The shared ingest step of the store-backed foreachBatch bodies: every
  * loop that publishes per trigger keeps its segmented store within the
  * segment budget, and the corpus-relative curate loops are replay-exact
  * (a re-delivered batch leaves the histogram and cutoff untouched and
  * re-emits the same rows). */
class IngestStepSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf)
    .select("doc_id", "lang", "text")

  private def rowsOf(df: DataFrame): Set[(Long, String, Long)] =
    df.select("doc_id", "lang", "quality_bp")
      .as[(Long, String, Long)].collect().toSet

  // ten tiny batches (~10 docs each): one segment per trigger would
  // overrun the budget of 8 without compaction
  private def tinyBatches: Seq[(DataFrame, Long)] = {
    val n = StreamingPipelines.DefaultSegmentBudget + 2
    (0 until n).map(i =>
      (docs.filter(col("doc_id") < 100 && col("doc_id") % n === i), i.toLong))
  }

  test("classifierIngestBatch keeps its NbStore within the segment budget") {
    val nb = new NbStore(s"ingest_step_nb_${System.nanoTime()}")
    for ((b, id) <- tinyBatches)
      StreamingPipelines.classifierIngestBatch(nb, b, "doc_id", "text",
        batchId = id).collect()
    assert(nb.liveSegments.size <= StreamingPipelines.DefaultSegmentBudget,
      s"NbStore grew to ${nb.liveSegments.size} segments")
  }

  test("multimodalCurateIngestBatch keeps its store within the segment budget") {
    val media = new MediaHashStore(s"ingest_step_media_${System.nanoTime()}")
    for ((b, id) <- tinyBatches)
      StreamingPipelines.multimodalCurateIngestBatch(media, b,
        Multimodal.imageAHashes(spark,
          Multimodal.syntheticPngAssets(spark, b)).toDF(),
        "doc_id", "text", PipelineOps.QualityMin, batchId = id).collect()
    assert(media.liveSegments.size <= StreamingPipelines.DefaultSegmentBudget,
      s"MediaHashStore grew to ${media.liveSegments.size} segments")
  }

  test("curateRelativeBatch replay: same histogram, cutoff and rows") {
    val store = new QualityFloorStore(0.6)
    def run(b: DataFrame, id: Long) = rowsOf(StreamingPipelines
      .curateRelativeBatch(store, b, "doc_id", "text", "lang",
        TextOps.SampleRatesBp, TextOps.SampleDefaultBp, id))
    run(docs.filter(col("doc_id") < 250), 0L)
    val b1 = docs.filter(col("doc_id") >= 250)
    val out1 = run(b1, 1L)
    val hist = store.histogram(spark).collect().toSet
    val cutoff = store.cutoffBp
    assert(out1.nonEmpty && cutoff.nonEmpty)
    assert(run(b1, 1L) == out1, "replay must re-emit the same rows")
    assert(store.histogram(spark).collect().toSet == hist,
      "replay must not merge the histogram twice")
    assert(store.cutoffBp == cutoff)
  }

  test("curateRelativeByGroupBatch replay: same histogram, cutoffs and rows") {
    val store = new GroupedQualityFloorStore(0.6, "lang")
    def run(b: DataFrame, id: Long) = rowsOf(StreamingPipelines
      .curateRelativeByGroupBatch(store, b, "doc_id", "text", "lang",
        TextOps.SampleRatesBp, TextOps.SampleDefaultBp, id))
    run(docs.filter(col("doc_id") < 250), 0L)
    val b1 = docs.filter(col("doc_id") >= 250)
    val out1 = run(b1, 1L)
    val hist = store.histogram(spark).collect().toSet
    val cutoffs = store.cutoffsBp
    assert(out1.nonEmpty && cutoffs.size > 1)
    assert(run(b1, 1L) == out1, "replay must re-emit the same rows")
    assert(store.histogram(spark).collect().toSet == hist,
      "replay must not merge the histogram twice")
    assert(store.cutoffsBp == cutoffs)
  }
}
