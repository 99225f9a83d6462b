package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.{GramStore, ParagraphStore}

/** The span and paragraph ingest bodies read each batch's source once:
  * the store ingest (which records the ORIGINAL text's grams / units)
  * and the returned rewrite share one materialization, so a sink that
  * reads the returned frame once evaluates every source row once. */
class IngestReadOnceSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf).select("doc_id", "text")

  /** Two batches whose text column counts its own evaluations; runs
    * `body` on each (first run, not a replay), reads the returned frame
    * once, and returns (source rows, source-row evaluations) per batch. */
  private def evaluationsPerBatch(
      body: (DataFrame, Long) => DataFrame): Seq[(Long, Long)] = {
    val evals = spark.sparkContext.longAccumulator("source_row_evals")
    val tap = udf { (s: String) => evals.add(1); s }
    Seq(0L, 1L).map { id =>
      val src = docs.filter(col("doc_id") % 2 === id && col("doc_id") < 200)
      val rows = src.count()
      evals.reset()
      body(src.select(col("doc_id"), tap(col("text")).as("text")), id).collect()
      (rows, evals.value.longValue)
    }
  }

  test("spanIngestBatch evaluates each source row once per batch") {
    val store = new GramStore(s"read_once_gram_${System.nanoTime()}")
    val seen = evaluationsPerBatch((b, id) =>
      StreamingPipelines.spanIngestBatch(store, b, "doc_id", "text", batchId = id))
    seen.foreach { case (rows, evals) =>
      assert(rows > 0 && evals == rows,
        s"$evals source-row evaluations for $rows rows")
    }
  }

  test("paragraphIngestBatch evaluates each source row once per batch") {
    val store = new ParagraphStore(s"read_once_par_${System.nanoTime()}")
    val seen = evaluationsPerBatch((b, id) =>
      StreamingPipelines.paragraphIngestBatch(store, b, "doc_id", "text",
        batchId = id))
    seen.foreach { case (rows, evals) =>
      assert(rows > 0 && evals == rows,
        s"$evals source-row evaluations for $rows rows")
    }
  }
}
