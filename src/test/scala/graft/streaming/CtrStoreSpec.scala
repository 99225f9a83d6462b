package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, udf}

import graft.SparkSpec
import graft.operators.ClickThroughRate

/** End-to-end streaming-vs-batch consistency: the full streaming CTR
  * topology (join → foreachBatch increments → keyed store) must converge
  * to exactly the batch pipeline's counts once the watermark passes all
  * events. */
class CtrStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tempStore(): CtrStore =
    new CtrStore(Files.createTempDirectory("graft-ctr-store").toString)

  test("streaming foreachBatch CTR converges to the batch CTR") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val imps = MemoryStream[(String, Timestamp, String)]
    val clks = MemoryStream[(String, Timestamp, String)]
    val joined = StreamingPipelines.adJoinStream(
      imps.toDF.toDF("impression_id", "imp_ts", "ad_id"),
      clks.toDF.toDF("impression_id", "clk_ts", "click_id"))

    val store = tempStore()
    val q = joined.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        store.merge(ClickThroughRate.adCounts(batch), batchId)
      }
      .start()

    def ts(s: Long) = new Timestamp(s * 1000)
    val impRows = Seq(("i1", 100L, "ad1"), ("i2", 100L, "ad1"), ("i3", 110L, "ad2"),
      ("i4", 110L, "ad3"), ("i5", 200L, "ad1"), ("i6", 200L, "ad2"))
    val clkRows = Seq(("i1", 120L, "c1"), ("i4", 130L, "c4"), ("i6", 210L, "c6"))
    def stream(round: Seq[String]): Unit = {
      imps.addData(impRows.filter(r => round.contains(r._1)).map(r => (r._1, ts(r._2), r._3)))
      clks.addData(clkRows.filter(r => round.contains(r._1)).map(r => (r._1, ts(r._2), r._3)))
      q.processAllAvailable()
    }
    try {
      // round 1: ad1 gets i1 (clicked) + i2, ad2 gets i3, ad3's only
      // impression i4 is clicked. Matches emit at once; the unmatched
      // rows wait for the watermark, so both ads read all-clicked (A7's
      // Infinity branch) after the first batch
      stream(Seq("i1", "i2", "i3", "i4"))
      val inf = Double.PositiveInfinity
      assert(store.snapshot() == Map("ad1" -> ((0L, 1L, inf)), "ad3" -> ((0L, 1L, inf))))
      // round 2: ad1 and ad2 keep accumulating in later batches
      stream(Seq("i5", "i6"))
      // advance both watermarks far past all join windows (sentinel ads)
      imps.addData(("ix", ts(5000), "sentinel"))
      clks.addData(("ix2", ts(5000), "cx"))
      q.processAllAvailable()
      imps.addData(("iy", ts(9000), "sentinel"))
      clks.addData(("iy2", ts(9000), "cy"))
      q.processAllAvailable()

      val snap = store.snapshot()
      assert(snap("ad1") == ((2L, 1L, 0.5)))
      assert(snap("ad2") == ((1L, 1L, 1.0)))
      assert(snap("ad3") == ((0L, 1L, inf)), "an all-clicked ad stays at Infinity")

      // batch reference on the same data (sans sentinels)
      val batch = ClickThroughRate.ctrByAd(
          impRows.map(r => (r._1, r._2 * 1000, r._3))
            .toDF("impression_id", "impression_time_ms", "ad_id"),
          clkRows.map(r => (r._1, r._2 * 1000, r._3))
            .toDF("impression_id", "click_time_ms", "click_id"))
        .select(col("ad_id"), col("num_impressions"), col("num_clicks"), col("ctr"))
        .as[(String, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(batch.keySet == snap.keySet - "sentinel")
      batch.foreach { case (ad, b) =>
        assert(snap(ad) == b, s"ad $ad: streaming ${snap(ad)} != batch $b")
      }
    } finally q.stop()
  }

  test("golden trace: CtrStore CTR == batch CTR on the same input") {
    // the store fed a post-join record stream over two micro-batches must
    // hold, after each batch, the batch pipeline's counts AND ctr (A6/A7
    // quirks included) over every record seen so far
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, String, String, Boolean)]
    val store = tempStore()
    val q = in.toDF.toDF("impression_id", "user_id", "ad_id", "was_clicked")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.merge(ClickThroughRate.adCounts(batch), batchId)
      }.start()
    // batch 1: mixed clicks incl. all-clicked ad2 (A7 Infinity branch)
    val b1 = Seq(("i1", "u1", "ad1", false), ("i2", "u2", "ad1", true),
      ("i3", "u3", "ad2", true), ("i4", "u4", "ad3", false))
    // batch 2: counts must accumulate on the store
    val b2 = Seq(("i5", "u5", "ad1", false), ("i6", "u6", "ad2", false))
    def reference(rows: Seq[(String, String, String, Boolean)]) = {
      val counts = ClickThroughRate.adCounts(
        rows.toDF("impression_id", "user_id", "ad_id", "was_clicked"))
      counts.select(col("ad_id"), col("num_impressions"), col("num_clicks"),
          ClickThroughRate.ctrFaithful(counts).as("ctr"))
        .as[(String, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    }
    try {
      in.addData(b1)
      q.processAllAvailable()
      assert(store.snapshot() == reference(b1))
      assert(store.snapshot()("ad2") == ((0L, 1L, Double.PositiveInfinity)))
      in.addData(b2)
      q.processAllAvailable()
      assert(store.snapshot() == reference(b1 ++ b2))
      // ad2 was all-clicked in batch 1 and gained an impression in batch 2
      assert(store.snapshot()("ad2") == ((1L, 1L, 1.0)))
    } finally q.stop()
  }

  test("ctrBatchUpdates: replay-guarded merge, touched-ads-only emission") {
    // the extracted ClickThroughRateApp foreachBatch body — the one
    // genuinely-runnable broker path, pinned broker-free through the
    // seam function (round-9 finding: the app previously dropped the
    // batchId and collect-emitted the WHOLE table per trigger)
    val store = tempStore()
    def joinedBatch(rows: Seq[(String, String, Boolean)]) =
      rows.toDF("impression_id", "ad_id", "was_clicked")

    // batch 0 touches ad1+ad2
    val up0 = StreamingPipelines.ctrBatchUpdates(store,
      joinedBatch(Seq(("i1", "ad1", true), ("i2", "ad1", false),
        ("i3", "ad2", false))), batchId = 0L)
      .as[(String, Long, Long, Double)].collect().sortBy(_._1)
    assert(up0.toSeq == Seq(("ad1", 1L, 1L, 1.0), ("ad2", 1L, 0L, 0.0)))

    // batch 1 touches ONLY ad2 — ad1 must not re-emit, and ad2's
    // update carries the MERGED totals, not the batch increment
    val up1 = StreamingPipelines.ctrBatchUpdates(store,
      joinedBatch(Seq(("i4", "ad2", true))), batchId = 1L)
      .as[(String, Long, Long, Double)].collect().sortBy(_._1)
    assert(up1.toSeq == Seq(("ad2", 1L, 1L, 1.0)),
      s"emission must be the batch's touched ads only, got ${up1.toSeq}")

    // at-least-once REPLAY of batch 1: the merge is a no-op (no double
    // count) and the emission re-sends the already-merged values
    val up1r = StreamingPipelines.ctrBatchUpdates(store,
      joinedBatch(Seq(("i4", "ad2", true))), batchId = 1L)
      .as[(String, Long, Long, Double)].collect().sortBy(_._1)
    assert(up1r.toSeq == Seq(("ad2", 1L, 1L, 1.0)),
      "replayed batch must re-emit merged values, not double-count")
    assert(store.snapshot() == Map(
      "ad1" -> ((1L, 1L, 1.0)), "ad2" -> ((1L, 1L, 1.0))),
      "store after replay must equal store before replay")
  }

  test("restart adopts the committed KTable: counts, snapshot, replay guard") {
    val dir = java.nio.file.Files.createTempDirectory("ctr-restart").toString
    val before = new CtrStore(dir)
    before.merge(Seq(("ad1", 3L, 1L), ("ad2", 2L, 0L))
      .toDF("ad_id", "num_impressions", "num_clicks"), batchId = 5L)

    // a NEW instance over the same dir = driver restart
    val after = new CtrStore(dir)
    assert(after.snapshot() == before.snapshot(),
      "a restarted driver must resume the committed KTable, not zero it")
    // replay guard survives: the checkpoint-replayed batch applies
    // exactly once ACROSS the restart
    after.merge(Seq(("ad1", 3L, 1L), ("ad2", 2L, 0L))
      .toDF("ad_id", "num_impressions", "num_clicks"), batchId = 5L)
    assert(after.snapshot()("ad1") == ((3L, 1L, 1.0 / 3)),
      "replayed batch after restart must not double-count")
    // and NEW batches keep accumulating on the adopted base
    after.merge(Seq(("ad1", 1L, 0L))
      .toDF("ad_id", "num_impressions", "num_clicks"), batchId = 6L)
    assert(after.snapshot()("ad1") == ((4L, 1L, 0.25)))
  }

  test("the app's store lives under its checkpoint and is adopted on restart") {
    val checkpoint = Files.createTempDirectory("ctr-app-checkpoint").toString
    val first = CtrStore.atCheckpoint(checkpoint)
    first.merge(Seq(("ad1", 3L, 1L)).toDF("ad_id", "num_impressions", "num_clicks"),
      batchId = 7L)
    assert(Files.isDirectory(Paths.get(checkpoint, "ctr_store")))

    // a second call over the same location = the app restarted
    val second = CtrStore.atCheckpoint(checkpoint)
    assert(second.snapshot() == Map("ad1" -> ((3L, 1L, 1.0 / 3))),
      "the restarted app must resume the committed counts")
    second.merge(Seq(("ad1", 3L, 1L)).toDF("ad_id", "num_impressions", "num_clicks"),
      batchId = 7L)
    assert(second.snapshot()("ad1") == ((3L, 1L, 1.0 / 3)),
      "the replay guard must survive the restart")
    assert(CtrStore.atCheckpoint(s"file:$checkpoint").snapshot() == second.snapshot(),
      "a file: URI names the same store")

    val e = intercept[IllegalArgumentException](CtrStore.atCheckpoint("hdfs://nn/ckpt"))
    assert(e.getMessage.contains("local checkpoint"))
  }

  test("ClickThroughRateApp takes exactly bootstrap and checkpoint") {
    for (args <- Seq(Array("broker:9092"), Array("broker:9092", "/ckpt", "state"))) {
      val e = intercept[IllegalArgumentException](TopologyApps.ClickThroughRateApp.main(args))
      assert(e.getMessage.contains("usage: ClickThroughRateApp <bootstrap> <checkpoint>"))
    }
  }

  /** Runs the CTR join over live streams with `body` as the
    * foreachBatch: ad1 gets i1 (clicked) + i2, ad2 gets i3, then two
    * sentinel rounds push both watermarks past every join window. Each
    * row the join emits passes `seen` (its ad) inside the join's own
    * stage, once per execution of that stage. (A tap below the join
    * would sit before its shuffle, whose output a second job over the
    * same batch reuses, so it could not see a second execution.) */
  private def ctrStream(seen: String => Unit)(body: (DataFrame, Long) => Unit): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val imps = MemoryStream[(String, Timestamp, String)]
    val clks = MemoryStream[(String, Timestamp, String)]
    val tap = udf { (ad: String) => seen(ad); ad }.asNondeterministic()
    val joined = StreamingPipelines.adJoinStream(
        imps.toDF.toDF("impression_id", "imp_ts", "ad_id"),
        clks.toDF.toDF("impression_id", "clk_ts", "click_id"))
      .withColumn("ad_id", tap(col("ad_id")))
    val q = joined.writeStream.outputMode("append").foreachBatch(body).start()
    def ts(s: Long) = new Timestamp(s * 1000)
    try {
      for ((i, c) <- Seq(
          Seq(("i1", ts(100), "ad1"), ("i2", ts(100), "ad1"), ("i3", ts(110), "ad2")) ->
            Seq(("i1", ts(120), "c1")),
          Seq(("ix", ts(5000), "sentinel")) -> Seq(("ix2", ts(5000), "cx")),
          Seq(("iy", ts(9000), "sentinel")) -> Seq(("iy2", ts(9000), "cy")))) {
        imps.addData(i)
        clks.addData(c)
        q.processAllAvailable()
      }
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
    } finally q.stop()
  }

  /** Join output rows the store counted: each adds one impression or click. */
  private def joinedRows(store: CtrStore): Long =
    store.snapshot().values.map { case (i, c, _) => i + c }.sum

  test("ctrBatchUpdates executes the joined batch once and emits its touched ads") {
    val rowsOut = spark.sparkContext.longAccumulator("ctr-join-rows")
    val joinedAds = spark.sparkContext.collectionAccumulator[String]("ctr-joined-ads")
    val store = tempStore()
    val emitted = mutable.Map[Long, Set[String]]()
    val expected = mutable.Map[Long, Set[String]]()
    ctrStream { ad => rowsOut.add(1); joinedAds.add(ad) } { (batch, batchId) =>
      joinedAds.reset()
      val updates = StreamingPipelines.ctrBatchUpdates(store, batch, batchId).collect()
      emitted(batchId) = updates.map(_.getString(0)).toSet
      expected(batchId) = joinedAds.value.toArray(Array.empty[String]).toSet
      assert(updates.length == emitted(batchId).size, "one update row per touched ad")
    }
    assert(rowsOut.sum == joinedRows(store),
      s"the join emitted ${rowsOut.sum} rows for ${joinedRows(store)} counted: " +
        "the batch executed more than once")
    assert(emitted == expected, "each batch must emit exactly the ads its join output carried")
    val snap = store.snapshot()
    assert(emitted.values.exists(ads => ads.nonEmpty && ads != snap.keySet),
      "some batch must emit a strict subset of the table")
    assert(snap("ad1") == ((1L, 1L, 1.0)))
    assert(snap("ad2") == ((1L, 0L, 0.0)))
  }

  test("state retention of one version changes memory only, not answers") {
    val key = "spark.sql.streaming.maxBatchesToRetainInMemory"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val rowsOut = spark.sparkContext.longAccumulator("ctr-twice-join-rows")
      val store = tempStore()
      // a body that executes the stateful batch twice: the second run
      // reloads the evicted older state version from the checkpoint
      ctrStream(_ => rowsOut.add(1)) { (batch, batchId) =>
        batch.count()
        store.merge(ClickThroughRate.adCounts(batch), batchId)
      }
      assert(rowsOut.sum == 2 * joinedRows(store),
        "the body must really execute each batch twice")
      val snap = store.snapshot()
      val batch = ClickThroughRate
        .adCounts(ClickThroughRate.joinImpressionsClicks(
          Seq(("i1", 100000L, "ad1"), ("i2", 100000L, "ad1"), ("i3", 110000L, "ad2"))
            .toDF("impression_id", "impression_time_ms", "ad_id"),
          Seq(("i1", 120000L, "c1")).toDF("impression_id", "click_time_ms", "click_id")))
        .select(col("ad_id"), col("num_impressions"), col("num_clicks"))
        .as[(String, Long, Long)].collect()
      assert(batch.length == 2)
      batch.foreach { case (ad, bi, bc) =>
        assert((snap(ad)._1, snap(ad)._2) == ((bi, bc)),
          s"ad $ad: streaming ${snap(ad)} != batch ($bi,$bc)")
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("restart adopts a version written before last_batch existed") {
    // a version dir as the 3-column store wrote it: parquet + commit marker
    val dir = Files.createTempDirectory("ctr-old-version").toString
    Seq(("ad1", 3L, 1L), ("ad2", 2L, 0L))
      .toDF("ad_id", "num_impressions", "num_clicks")
      .write.parquet(s"$dir/v1")
    Files.write(Paths.get(dir, "v1", VersionedParquetStore.MetaFile), "4".getBytes("UTF-8"))

    val store = new CtrStore(dir)
    assert(store.snapshot() == Map("ad1" -> ((3L, 1L, 1.0 / 3)), "ad2" -> ((2L, 0L, 0.0))))
    assert(store.table(spark).filter(col("last_batch").isNotNull).count() == 0,
      "rows of an old version carry no batch tag")
    // the adopted replay guard still holds
    store.merge(Seq(("ad1", 9L, 9L)).toDF("ad_id", "num_impressions", "num_clicks"),
      batchId = 4L)
    assert(store.snapshot()("ad1") == ((3L, 1L, 1.0 / 3)))

    val up = StreamingPipelines.ctrBatchUpdates(store,
        Seq(("i1", "ad1", false), ("i2", "ad3", true))
          .toDF("impression_id", "ad_id", "was_clicked"), batchId = 5L)
      .as[(String, Long, Long, Double)].collect().sortBy(_._1)
    assert(up.toSeq == Seq(("ad1", 4L, 1L, 0.25), ("ad3", 0L, 1L, Double.PositiveInfinity)))
    assert(store.snapshot() == Map("ad1" -> ((4L, 1L, 0.25)), "ad2" -> ((2L, 0L, 0.0)),
      "ad3" -> ((0L, 1L, Double.PositiveInfinity))))
  }
}
