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

  test("streaming foreachBatch CTR converges to the batch CTR") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val imps = MemoryStream[(String, Timestamp, String)]
    val clks = MemoryStream[(String, Timestamp, String)]
    val joined = StreamingPipelines.adJoinStream(
      imps.toDF.toDF("impression_id", "imp_ts", "ad_id"),
      clks.toDF.toDF("impression_id", "clk_ts", "click_id"))

    val store = new CtrStore
    val q = joined.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store.merge(StreamingPipelines.ctrIncrements(batch))
      }
      .start()

    def ts(s: Long) = new Timestamp(s * 1000)
    try {
      // real traffic: ad1 gets i1(clicked)+i2(unclicked), ad2 gets i3(unclicked)
      imps.addData(("i1", ts(100), "ad1"), ("i2", ts(100), "ad1"),
        ("i3", ts(110), "ad2"))
      clks.addData(("i1", ts(120), "c1"))
      q.processAllAvailable()
      // advance both watermarks far past all join windows (sentinel ads)
      imps.addData(("ix", ts(5000), "sentinel"))
      clks.addData(("ix2", ts(5000), "cx"))
      q.processAllAvailable()
      imps.addData(("iy", ts(9000), "sentinel"))
      clks.addData(("iy2", ts(9000), "cy"))
      q.processAllAvailable()

      val snap = store.snapshot()
      assert(snap("ad1") == ((1L, 1L, 1.0)))
      assert(snap("ad2") == ((1L, 0L, 0.0)))

      // batch reference on the same data (sans sentinels)
      val bImps = Seq(("i1", 100000L, "ad1"), ("i2", 100000L, "ad1"),
        ("i3", 110000L, "ad2")).toDF("impression_id", "impression_time_ms", "ad_id")
      val bClks = Seq(("i1", 120000L, "c1"))
        .toDF("impression_id", "click_time_ms", "click_id")
      val batch = ClickThroughRate
        .adCounts(ClickThroughRate.joinImpressionsClicks(bImps, bClks))
        .select(col("ad_id"), col("num_impressions"), col("num_clicks"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      batch.foreach { case (ad, (bi, bc)) =>
        val (si, sc, _) = snap(ad)
        assert((si, sc) == ((bi, bc)), s"ad $ad: streaming ($si,$sc) != batch ($bi,$bc)")
      }
    } finally q.stop()
  }

  test("ctrBatchUpdates: replay-guarded merge, touched-ads-only emission") {
    // the extracted ClickThroughRateApp foreachBatch body — the one
    // genuinely-runnable broker path, pinned broker-free through the
    // seam function (round-9 finding: the app previously dropped the
    // batchId and collect-emitted the WHOLE table per trigger)
    val store = new CtrStore
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
    val store = new CtrStore
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
      val store = new CtrStore
      // a body that executes the stateful batch twice: the second run
      // reloads the evicted older state version from the checkpoint
      ctrStream(_ => rowsOut.add(1)) { (batch, batchId) =>
        batch.count()
        store.merge(StreamingPipelines.ctrIncrements(batch), batchId)
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
