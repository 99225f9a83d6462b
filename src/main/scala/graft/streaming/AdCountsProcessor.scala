package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.model.ImpressionAndClick
import graft.streaming.AdCountsProcessor.{AdCounts, AdCtrUpdate}

/** Per-ad running counters as explicit keyed state — the Spark analog of
  * the reference's A6 aggregate over a KeyValueStore
  * (StreamStreamJoin.java:105-131) and of the Processor API it imports
  * but never uses (Aggregations.java:15-20, SURVEY.md §2.8), on Spark 4's
  * `transformWithState` (typed per-key state handles, TTL, timers,
  * RocksDB-first design). Each micro-batch emits one updated row per
  * touched ad — the KTable changelog cadence at micro-batch granularity,
  * with the faithful A6/A7 semantics, quirks included (SURVEY.md §7.5.4).
  *
  * At scale: ValueState is per-key in the state store (RocksDB provider
  * for large cardinality); TTLConfig would bound state for ad churn —
  * NONE here to mirror the reference's unbounded KeyValueStore
  * (StreamStreamJoin.java:130).
  */
class AdCountsProcessor
    extends StatefulProcessor[String, ImpressionAndClick, AdCtrUpdate] {

  @transient private var counts: ValueState[AdCounts] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getValueState[AdCounts](
      "counts", Encoders.product[AdCounts], TTLConfig.NONE)

  override def handleInputRows(
      adId: String,
      rows: Iterator[ImpressionAndClick],
      timers: TimerValues): Iterator[AdCtrUpdate] = {
    var AdCounts(imps, clks) = Option(counts.get()).getOrElse(AdCounts(0L, 0L))
    rows.foreach { r => if (r.wasClicked) clks += 1 else imps += 1 }
    counts.update(AdCounts(imps, clks))
    val ctr =
      if (clks == 0) 0.0
      else if (imps == 0) Double.PositiveInfinity
      else clks.toDouble / imps
    Iterator.single(AdCtrUpdate(adId, imps, clks, ctr))
  }
}

object AdCountsProcessor {

  final case class AdCounts(numImpressions: Long, numClicks: Long)

  final case class AdCtrUpdate(
      adId: String,
      numImpressions: Long,
      numClicks: Long,
      ctr: Double)

  def runningAdCounts(spark: SparkSession,
      joined: Dataset[ImpressionAndClick]): Dataset[AdCtrUpdate] = {
    import spark.implicits._
    joined
      .groupByKey(_.adId)
      .transformWithState(new AdCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}
