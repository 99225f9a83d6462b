package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.{BandStore, BloomStore, GramStore, ParagraphStore}
import graft.packs.TextOps

/** The span, paragraph and CCNet ingest bodies read each batch's source
  * once: the store ingest (which records the ORIGINAL text's grams /
  * units) and the returned rewrite share one materialization, so a sink
  * that reads the returned frame once evaluates every source row once. */
class IngestReadOnceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf)
    .select("doc_id", "lang", "text")

  private lazy val uniTable =
    graft.operators.UnigramLmTokenizer.trainCached(
      Tables.documents(spark, sf), sf, "text",
      TextOps.MaxBpeWords, TextOps.UnigramVocabTarget).table

  /** Two batches whose `tapped` column counts its own evaluations; runs
    * `body` on each (first run, not a replay), reads the returned frame
    * once, and returns (source rows, source-row evaluations) per batch.
    * A tap is a projection, not a filter: a filter's predicate becomes a
    * constraint that the optimizer copies onto the other side of a join
    * on that column, where it counts rows that never came from here. */
  private def evaluationsPerBatch(tapped: String = "text")(
      body: (DataFrame, Long) => DataFrame): Seq[(Long, Long)] = {
    val evals = spark.sparkContext.longAccumulator("source_row_evals")
    val tapText = udf { (s: String) => evals.add(1); s }
    val tapId = udf { (i: Long) => evals.add(1); i }
    Seq(0L, 1L).map { id =>
      val src = docs.filter(col("doc_id") % 2 === id && col("doc_id") < 200)
      val rows = src.count()
      evals.reset()
      val tap = if (tapped == "text") tapText(col(tapped)) else tapId(col(tapped))
      body(src.withColumn(tapped, tap), id).collect()
      (rows, evals.value.longValue)
    }
  }

  test("spanIngestBatch evaluates each source row once per batch") {
    val store = new GramStore(s"read_once_gram_${System.nanoTime()}")
    val seen = evaluationsPerBatch()((b, id) =>
      StreamingPipelines.spanIngestBatch(store, b, "doc_id", "text", batchId = id))
    seen.foreach { case (rows, evals) =>
      assert(rows > 0 && evals == rows,
        s"$evals source-row evaluations for $rows rows")
    }
  }

  test("paragraphIngestBatch evaluates each source row once per batch") {
    val store = new ParagraphStore(s"read_once_par_${System.nanoTime()}")
    val seen = evaluationsPerBatch()((b, id) =>
      StreamingPipelines.paragraphIngestBatch(store, b, "doc_id", "text",
        batchId = id))
    seen.foreach { case (rows, evals) =>
      assert(rows > 0 && evals == rows,
        s"$evals source-row evaluations for $rows rows")
    }
  }

  test("ccnetIngestBatch evaluates each source row once per batch") {
    val parStore = new ParagraphStore(s"read_once_ccnet_par_${System.nanoTime()}")
    val floorStore = new QualityFloorStore(TextOps.UnigramLmKeepFrac,
      StreamingPipelines.ccnetFloorKey(uniTable))
    val exactStore = new BloomStore(1000L)
    val bandStore = new BandStore(s"read_once_ccnet_band_${System.nanoTime()}",
      buckets = 2)
    val seenDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    val seen = evaluationsPerBatch("doc_id")((b, id) =>
      StreamingPipelines.ccnetIngestBatch(parStore, floorStore, exactStore,
        bandStore, seenDocs, b, "doc_id", "text", "lang", TextOps.SampleRatesBp,
        TextOps.SampleDefaultBp, batchId = id))
    seen.foreach { case (rows, evals) =>
      assert(rows > 0 && evals == rows,
        s"$evals source-row evaluations for $rows rows")
    }
  }

  test("ccnetBucketsIngestBatch evaluates each source row once per batch") {
    val parStore = new ParagraphStore(s"read_once_ccnetb_par_${System.nanoTime()}")
    val bucketStore = StreamingPipelines.ccnetBucketStore("lang", uniTable)
    val seen = evaluationsPerBatch("doc_id")((b, id) =>
      StreamingPipelines.ccnetBucketsIngestBatch(parStore, bucketStore, b,
        "doc_id", "text", "lang", batchId = id))
    seen.foreach { case (rows, evals) =>
      assert(rows > 0 && evals == rows,
        s"$evals source-row evaluations for $rows rows")
    }
  }
}
