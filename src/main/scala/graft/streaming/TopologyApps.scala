package graft.streaming

import org.apache.spark.sql.SparkSession
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

  private def run(mkQuery: SparkSession => StreamingQuery): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val query = mkQuery(spark)
    sys.addShutdownHook { query.stop(); spark.stop() }
    query.awaitTermination()
  }

  /** orders topic → 30 s tumbling averages → order-averages topic. */
  object OrdersAveragesApp {
    def main(args: Array[String]): Unit = {
      val Array(bootstrap, checkpoint) = args.take(2)
      run { spark =>
        val lines = KafkaIo.readDelimited(spark, bootstrap, "orders")
        KafkaIo.writeDelimited(
            StreamingPipelines.ordersToAverages(lines),
            bootstrap, "order-averages", checkpoint)
          .outputMode("update")
          .trigger(Trigger.ProcessingTime("1 second"))
          .start()
      }
    }
  }

  /** impressions + clicks topics → ±60 s left join → per-ad CTR updates
    * → click-through-rate topic. CTR is maintained via the foreachBatch
    * store UNDER THE BATCH ID (an at-least-once replay after a broker/
    * driver restart merges as a no-op — CtrStore's replay guard), and
    * each batch emits ONLY its touched ads' update records, read from
    * the merged table by the batch id the merge tagged them with and
    * written distributed (KTable changed-keys-only semantics; no driver
    * collect, no full-table re-emit). The joined batch executes once
    * per trigger, inside the merge. The body is
    * [[StreamingPipelines.ctrBatchUpdates]], spec'd broker-free in
    * CtrStoreSpec. */
  object ClickThroughRateApp {

    /** args: bootstrap checkpoint [engine] — engine `store` (default,
      * foreachBatch CtrStore) or `state` (the reference's
      * chained-stateful topology on Spark's NATIVE arbitrary-state API:
      * transformWithState [[AdCountsProcessor]] downstream of the
      * join, update records straight from the state operator, no
      * external store). StatefulCountsSpec's golden trace pins the two
      * engines emitting identical per-ad counts on the same input. */
    def main(args: Array[String]): Unit = {
      val Array(bootstrap, checkpoint) = args.take(2)
      val engine = args.lift(2).getOrElse("store")
      run { spark =>
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
        val joined = StreamingPipelines.adJoinStream(imps, clks)
        engine match {
          case "state" =>
            // transformWithState requires the RocksDB provider
            spark.conf.set("spark.sql.streaming.stateStore.providerClass",
              "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
            import spark.implicits._
            AdCountsProcessor.runningAdCounts(spark,
                joined.select(col("impression_id").as("impressionId"),
                  col("user_id").as("userId"),
                  col("ad_id").as("adId"),
                  col("was_clicked").as("wasClicked"))
                  .as[graft.model.ImpressionAndClick])
              .select(col("adId").as("key"), col("ctr").cast("string").as("value"))
              .writeStream
              .outputMode("update")
              .option("checkpointLocation", checkpoint)
              .format("kafka")
              .option("kafka.bootstrap.servers", bootstrap)
              .option("topic", "click-through-rate")
              .start()
          case _ =>
            val store = new CtrStore
            joined.writeStream
              .outputMode("append")
              .option("checkpointLocation", checkpoint)
              .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
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
  }
}
