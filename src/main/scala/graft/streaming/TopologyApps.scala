package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.sources.DelimitedCodec

/** Runnable lifecycle entry points — the engine's analog of the
  * reference's two `main`s (Aggregations.java:59-173,
  * StreamStreamJoin.java:51-169): build topology → start → await →
  * shutdown hook. Each wires Kafka source → transform → Kafka sink with
  * a checkpoint (the reference's changelog-topic durability analog,
  * SURVEY.md §2.7). Requires a broker + the spark-sql-kafka connector
  * at runtime; the transforms themselves are covered broker-free by the
  * MemoryStream/file-source specs.
  */
object TopologyApps {

  /** Both mains take exactly `bootstrap checkpoint`. */
  private def run(app: String, args: Array[String])(
      mkQuery: (SparkSession, String, String) => StreamingQuery): Unit = {
    require(args.length == 2, s"usage: $app <bootstrap> <checkpoint>")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val query = mkQuery(spark, args(0), args(1))
    sys.addShutdownHook { query.stop(); spark.stop() }
    query.awaitTermination()
  }

  /** orders topic → 30 s tumbling averages → order-averages topic. */
  object OrdersAveragesApp {
    def main(args: Array[String]): Unit =
      run("OrdersAveragesApp", args) { (spark, bootstrap, checkpoint) =>
        val lines = KafkaIo.readDelimited(spark, bootstrap, "orders")
        KafkaIo.writeDelimited(
            StreamingPipelines.ordersToAverages(lines),
            bootstrap, "order-averages", checkpoint)
          .outputMode("update")
          .trigger(Trigger.ProcessingTime("1 second"))
          .start()
      }
  }

  /** impressions + clicks topics → ±60 s left join → per-ad CTR updates
    * → click-through-rate topic. The per-ad counts can't be a second
    * stateful operator after the stream-stream join (Spark refuses a
    * join in update output mode), so each micro-batch merges into a
    * [[CtrStore]] kept under `<checkpoint>/ctr_store`: a restarted query
    * resumes the counts and the replay guard that belong to its
    * offsets. The merge runs UNDER THE BATCH ID (an at-least-once
    * replay after a broker/driver restart merges as a no-op), and each
    * batch emits ONLY its touched ads' update records, read from the
    * merged table by the batch id the merge tagged them with and
    * written distributed (KTable changed-keys-only semantics; no driver
    * collect, no full-table re-emit). The joined batch executes once
    * per trigger, inside the merge. The body is
    * [[StreamingPipelines.ctrBatchUpdates]], spec'd broker-free in
    * CtrStoreSpec. */
  object ClickThroughRateApp {
    def main(args: Array[String]): Unit =
      run("ClickThroughRateApp", args) { (spark, bootstrap, checkpoint) =>
        val imps = DelimitedCodec.decoded(
            KafkaIo.readDelimited(spark, bootstrap, "impressions"),
            "value", DelimitedCodec.impressionSchema)
          .select(col("impressionId").as("impression_id"),
            timestamp_millis(col("impressionTime")).as("imp_ts"),
            col("adId").as("ad_id"),
            col("userId").as("user_id"))
        val clks = DelimitedCodec.decoded(
            KafkaIo.readDelimited(spark, bootstrap, "clicks"),
            "value", DelimitedCodec.clickSchema)
          .select(col("impressionId").as("impression_id"),
            timestamp_millis(col("clickTime")).as("clk_ts"),
            col("clickId").as("click_id"))
        val store = CtrStore.atCheckpoint(checkpoint)
        StreamingPipelines.adJoinStream(imps, clks).writeStream
          .outputMode("append")
          .option("checkpointLocation", checkpoint)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            StreamingPipelines.ctrBatchUpdates(store, batch, batchId)
              .select(col("ad_id").as("key"),
                col("ctr").cast("string").as("value"))
              .write.format("kafka")
              .option("kafka.bootstrap.servers", bootstrap)
              .option("topic", "click-through-rate")
              .save()
          }
          .start()
      }
  }
}
