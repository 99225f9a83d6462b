package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.model.ImpressionAndClick

/** KTable-update cadence via transformWithState: each batch emits the
  * updated running counts per touched ad (A6 semantics incl. quirks). */
class StatefulCountsSpec extends SparkSpec {
  import spark.implicits._

  test("running per-ad counts accumulate across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // transformWithState requires the RocksDB provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[ImpressionAndClick]
      val out = AdCountsProcessor.runningAdCounts(spark, in.toDS())
      val q = out.writeStream
        .format("memory").queryName("adcounts")
        .outputMode(OutputMode.Update())
        .start()
      def latest() = spark.table("adcounts")
        .as[AdCountsProcessor.AdCtrUpdate].collect()
        .groupBy(_.adId).map { case (k, v) => k -> v.last }

      try {
        in.addData(
          ImpressionAndClick("i1", "u1", "ad1", wasClicked = false),
          ImpressionAndClick("i2", "u2", "ad1", wasClicked = true),
          ImpressionAndClick("i3", "u3", "ad2", wasClicked = false))
        q.processAllAvailable()
        val s1 = latest()
        assert(s1("ad1").numImpressions == 1 && s1("ad1").numClicks == 1)
        assert(s1("ad1").ctr == 1.0)
        assert(s1("ad2").ctr == 0.0)

        // second batch: state carries over
        in.addData(ImpressionAndClick("i4", "u4", "ad1", wasClicked = false))
        q.processAllAvailable()
        val s2 = latest()
        assert(s2("ad1").numImpressions == 2 && s2("ad1").numClicks == 1)
        assert(s2("ad1").ctr == 0.5)
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState processor matches mapGroupsWithState semantics") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // transformWithState requires the RocksDB provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[ImpressionAndClick]
      val out = AdCountsProcessor.runningAdCounts(spark, in.toDS())
      val q = out.writeStream.format("memory").queryName("tws_counts")
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData(
          ImpressionAndClick("i1", "u1", "ad1", wasClicked = false),
          ImpressionAndClick("i2", "u2", "ad1", wasClicked = true))
        q.processAllAvailable()
        in.addData(ImpressionAndClick("i3", "u3", "ad1", wasClicked = false))
        q.processAllAvailable()
        val last = spark.table("tws_counts")
          .as[AdCountsProcessor.AdCtrUpdate].collect()
          .groupBy(_.adId).map { case (k, v) => k -> v.last }
        assert(last("ad1").numImpressions == 2 && last("ad1").numClicks == 1)
        assert(last("ad1").ctr == 0.5)
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("golden trace: transformWithState CTR == CtrStore CTR on the same input") {
    // the ClickThroughRateApp engine flag's parity pin: the foreachBatch
    // store path and the native arbitrary-state path must converge to
    // identical per-ad counts AND CTR (A6/A7 quirks included) when fed
    // the same post-join record stream across multiple micro-batches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val inStore = MemoryStream[ImpressionAndClick]
      val inTws = MemoryStream[ImpressionAndClick]
      val store = new CtrStore
      val qa = inStore.toDS().toDF()
        .withColumnRenamed("adId", "ad_id")
        .withColumnRenamed("wasClicked", "was_clicked")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          store.merge(StreamingPipelines.ctrIncrements(batch), batchId)
        }.start()
      val qb = AdCountsProcessor.runningAdCounts(spark, inTws.toDS())
        .writeStream.format("memory").queryName("parity_tws")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
      try {
        // batch 1: mixed clicks incl. an all-clicked ad (A7 Infinity quirk)
        val b1 = Seq(
          ImpressionAndClick("i1", "u1", "ad1", wasClicked = false),
          ImpressionAndClick("i2", "u2", "ad1", wasClicked = true),
          ImpressionAndClick("i3", "u3", "ad2", wasClicked = true),
          ImpressionAndClick("i4", "u4", "ad3", wasClicked = false))
        // batch 2: state must accumulate identically on both engines
        val b2 = Seq(
          ImpressionAndClick("i5", "u5", "ad1", wasClicked = false),
          ImpressionAndClick("i6", "u6", "ad2", wasClicked = false))
        for (b <- Seq(b1, b2)) {
          inStore.addData(b); inTws.addData(b)
          qa.processAllAvailable(); qb.processAllAvailable()
        }
        val fromStore = store.snapshot()
        val fromTws = spark.table("parity_tws")
          .as[AdCountsProcessor.AdCtrUpdate].collect()
          .groupBy(_.adId).map { case (k, v) => k -> v.last }
        assert(fromTws.keySet == fromStore.keySet)
        fromTws.foreach { case (ad, u) =>
          assert(fromStore(ad) == ((u.numImpressions, u.numClicks, u.ctr)),
            s"ad $ad: store=${fromStore(ad)} tws=$u — engines diverged")
        }
        // the quirk branch really fired: ad2 was all-clicked in batch 1
        // and gained an impression in batch 2
        assert(fromTws("ad2").numImpressions == 1 && fromTws("ad2").numClicks == 1)
      } finally { qa.stop(); qb.stop() }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("full topology: CSV orders lines → reference-encoded averages") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[String]
    val out = StreamingPipelines.ordersToAverages(in.toDF.toDF("value"))
    val q = out.writeStream
      .format("memory").queryName("oavg")
      .outputMode(OutputMode.Update())
      .start()
    try {
      in.addData("0,1,apples,10.0", "10000,2,bananas,20.0", "30000,3,cherries,40.0")
      q.processAllAvailable()
      val rows = spark.table("oavg").as[(String, String)].collect().toMap
      assert(rows("0-30000-0") == "30.0,15.0")
      assert(rows("30000-60000-0") == "80.0,40.0")
    } finally q.stop()
  }
}
