package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.sources.DelimitedCodec
import graft.streaming.{CtrStore, KafkaIo, StreamingPipelines}

/** `ref_stream`: the paper's two topologies, wired as
  * `graft.streaming.TopologyApps` wires them, running concurrently in one
  * session. Only the Kafka edges are replaced: an in-process source
  * carries the (binary key, binary value, timestamp) records the Kafka
  * source would, and a sink that collects every output column stands in
  * for the Kafka sink. The serde projections of `KafkaIo` stay.
  *
  * Both queries start on a restart backlog, then one generator thread
  * adds live events on a fixed schedule (open loop). Each record's event
  * time is fixed by the seed and the tick it belongs to; its creation
  * time is the tick's due time, from which emit latency is measured.
  */
object RefStream {

  type Rec = (Array[Byte], Array[Byte], Timestamp)
  /** Event-time origin of the live phase: the reference's sample epoch. */
  val E0: Long = 1640995200000L
  /** Event time of the flush events that close every window and join. */
  val FlushMs: Long = E0 + 3600 * 1000L

  final class Gen(a: Main.Args) {
    private val rnd = new scala.util.Random(a.seed)
    private val nAds = a.int("ads")
    private val nUsers = a.int("users")
    private val clickShare = a.dbl("click_share")
    private val outsideShare = a.dbl("click_outside_share")
    private val oooShare = a.dbl("out_of_order_share")
    private val oooMaxMs = (a.dbl("out_of_order_max_s") * 1000).toLong
    private val items = Seq("apples", "bananas", "cherries", "dates", "figs", "grapes")
    // Zipf-skewed draw over 1..n
    private def zipf(n: Int): Array[Double] = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, a.dbl("skew")))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private val adCdf = zipf(nAds)
    private val userCdf = zipf(nUsers)
    private def draw(cdf: Array[Double]): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1) + 1
    }
    private var orderSeq = 0
    private var impSeq = 0L
    private var clickSeq = 0L
    /** clicks scheduled for a later event time: (time, line) */
    private val pending = mutable.PriorityQueue[(Long, String)]()(Ordering.by(-_._1))

    private def late(t: Long): Long =
      if (rnd.nextDouble() < oooShare) t - 1 - (rnd.nextDouble() * oooMaxMs).toLong else t

    def orders(n: Int, t: Long): Seq[String] = (0 until n).map { _ =>
      orderSeq += 1
      s"${late(t)},$orderSeq,${items(rnd.nextInt(items.size))},${(1 + rnd.nextInt(10000)) / 100.0}"
    }

    def impressions(n: Int, t: Long): Seq[String] = (0 until n).map { _ =>
      impSeq += 1
      val it = late(t)
      val (imp, user, ad) = (s"impression_$impSeq", s"user_${draw(userCdf)}", s"ad_${draw(adCdf)}")
      if (rnd.nextDouble() < clickShare) {
        clickSeq += 1
        val delay =
          if (rnd.nextDouble() < outsideShare) 61000L + rnd.nextInt(20000)
          else 200L + rnd.nextInt(9800)
        pending.enqueue((it + delay, s"${it + delay},$user,$imp,$ad,click_$clickSeq"))
      }
      s"$it,$imp,$user,$ad"
    }

    /** Clicks whose event time has come by `t`. */
    def clicks(t: Long): Seq[String] = {
      val out = mutable.ArrayBuffer[String]()
      while (pending.nonEmpty && pending.head._1 <= t) out += pending.dequeue()._2
      out.toSeq
    }
  }

  /** Size of every file under `dir`, by path. */
  def files(dir: File): Map[String, Long] = {
    val out = mutable.Map[String, Long]()
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) out(f.getPath) = f.length()
    walk(dir)
    out.toMap
  }

  def run(spark: SparkSession, ops: Ops, a: Main.Args): Main.Outcome = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tickMs = a.int("tick_ms")
    val ordersRate = a.dbl("orders_per_s")
    val impRate = a.dbl("impressions_per_s")
    val backlogMs = (a.dbl("backlog_s") * 1000).toLong
    val root = new File(a.root)
    val gen = new Gen(a)
    val ordersIn = MemoryStream[Rec]
    val impIn = MemoryStream[Rec]
    val clkIn = MemoryStream[Rec]
    val log = Map("orders" -> mutable.ArrayBuffer[String](),
      "impressions" -> mutable.ArrayBuffer[String](), "clicks" -> mutable.ArrayBuffer[String]())

    // every addData call is one source offset; count them per stream
    val offsets = mutable.Map[String, Long]().withDefaultValue(-1L)
    val ctrInputBytes = mutable.Map[Long, Long]().withDefaultValue(0L)
    def add(stream: MemoryStream[Rec], topic: String, lines: Seq[String], keyOf: String => String,
        wallMs: Long, flush: Boolean = false): Long = {
      if (!flush) log(topic) ++= lines
      val ts = new Timestamp(wallMs)
      stream.addData(lines.map(l =>
        (Option(keyOf(l)).map(_.getBytes(UTF_8)).orNull, l.getBytes(UTF_8), ts)))
      offsets(topic) += 1
      offsets(topic)
    }
    val noKey = (_: String) => null
    val impKey = (l: String) => l.split(",")(1)
    val clkKey = (l: String) => l.split(",")(4)

    // one tick: orders, impressions, then the clicks now due, so offset k
    // of every stream holds tick k
    def tick(eventMs: Long, nOrders: Int, nImps: Int, wallMs: Long): Long = {
      add(ordersIn, "orders", gen.orders(nOrders, eventMs), noKey, wallMs)
      val (imps, clicks) = (gen.impressions(nImps, eventMs), gen.clicks(eventMs))
      ctrInputBytes(offsets("impressions") + 1) = (imps ++ clicks).map(_.length + 1L).sum
      add(impIn, "impressions", imps, impKey, wallMs)
      add(clkIn, "clicks", clicks, clkKey, wallMs)
    }

    // restart backlog: events of the last `backlog_s` seconds, offset 0
    val setupWall = System.currentTimeMillis()
    val bo = mutable.ArrayBuffer[String]()
    val bi = mutable.ArrayBuffer[String]()
    var t = E0 - backlogMs
    while (t < E0) {
      bo ++= gen.orders(math.round(ordersRate * tickMs / 1000).toInt, t)
      bi ++= gen.impressions(math.round(impRate * tickMs / 1000).toInt, t)
      t += tickMs
    }
    val backlogClicks = gen.clicks(E0 - 1)
    ctrInputBytes(0L) = (bi ++ backlogClicks).map(_.length + 1L).sum
    add(ordersIn, "orders", bo.toSeq, noKey, setupWall)
    add(impIn, "impressions", bi.toSeq, impKey, setupWall)
    add(clkIn, "clicks", backlogClicks, clkKey, setupWall)
    val backlogEvents = log.values.map(_.size).sum

    // sink side: emitted rows and each batch's completion
    val ordersOut = mutable.ArrayBuffer[(Long, String, String)]()
    val ctrOut = mutable.ArrayBuffer[(Long, String, String)]()
    @volatile var flushing = false
    val store = new CtrStore(new File(root, "ctr_store").getPath)
    val ckpt = new File(root, "checkpoints")

    val storeDir = new File(root, "ctr_store")
    var storeFiles = Map.empty[String, Long]
    def batchOp(kind: String, topic: String, batchId: Long)(body: Op => Seq[Row]): Unit = {
      val op = ops.run(if (flushing) "flush" else kind, topic, warm = batchId > 0) { op =>
        op.extra("batch_id") = batchId.toDouble
        val rows = body(op)
        val out = if (kind == "orders_batch") ordersOut else ctrOut
        out.synchronized(rows.foreach(r => out += ((batchId, r.getString(0), r.getString(1)))))
        op.extra("emitted_rows") = rows.size.toDouble
      }
      if (a.trace && kind == "ctr_batch") {
        // store write side, read off the op's clock from the store directory
        val now = files(storeDir)
        op.extra("store_bytes_written") =
          now.filter { case (f, n) => !storeFiles.get(f).contains(n) }.values.sum.toDouble
        op.extra("store_segments") =
          Option(storeDir.listFiles()).map(_.count(_.isDirectory)).getOrElse(0).toDouble
        storeFiles = now
      }
    }

    val ordersLines = KafkaIo.decodeProjection(
      ordersIn.toDF().toDF("key", "value", "timestamp"))
    val ordersQ = KafkaIo.encodeProjection(StreamingPipelines.ordersToAverages(ordersLines))
      .writeStream
      .queryName("orders_averages")
      .outputMode("update")
      .trigger(Trigger.ProcessingTime("1 second"))
      .option("checkpointLocation", new File(ckpt, "orders").getPath)
      .foreachBatch { (b: DataFrame, id: Long) =>
        batchOp("orders_batch", "orders", id) { op =>
          ops.child(op, "action", "sink")(b.collect().toSeq)
        }
      }

    val imps = DelimitedCodec.decoded(
        KafkaIo.decodeProjection(impIn.toDF().toDF("key", "value", "timestamp")),
        "value", DelimitedCodec.impressionSchema)
      .select(col("impressionId").as("impression_id"),
        timestamp_millis(col("impressionTime")).as("imp_ts"),
        col("adId").as("ad_id"),
        col("userId").as("user_id"))
    val clks = DelimitedCodec.decoded(
        KafkaIo.decodeProjection(clkIn.toDF().toDF("key", "value", "timestamp")),
        "value", DelimitedCodec.clickSchema)
      .select(col("impressionId").as("impression_id"),
        timestamp_millis(col("clickTime")).as("clk_ts"),
        col("clickId").as("click_id"))
    val ctrQ = StreamingPipelines.adJoinStream(imps, clks)
      .writeStream
      .queryName("click_through_rate")
      .outputMode("append")
      .option("checkpointLocation", new File(ckpt, "ctr").getPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batchOp("ctr_batch", "ctr", batchId) { op =>
          val updates = ops.child(op, "build", "graft.streaming") {
            StreamingPipelines.ctrBatchUpdates(store, batch, batchId)
              .select(col("ad_id").as("key"), col("ctr").cast("string").as("value"))
          }
          ops.child(op, "action", "sink")(KafkaIo.encodeProjection(updates).collect().toSeq)
        }
      }

    def caughtUp(): Boolean = Seq("orders_batch", "ctr_batch").forall(kind =>
      ops.all.exists(o => o.kind == kind && o.extra.get("batch_id").contains(0.0)))

    // ---- timed phase: catch-up, then live traffic on a fixed schedule
    ops.timedStart()
    val t0 = System.currentTimeMillis()
    val queries = Seq(ordersQ.start(), ctrQ.start())
    // catch-up runs alone: live traffic that queued behind the backlog
    // would make the first live batches drain that queue instead
    while (!caughtUp() && queries.forall(_.isActive)) Thread.sleep(10)
    val liveFrom = System.currentTimeMillis()
    val due = mutable.ArrayBuffer[(Long, Long)]() // (offset, due wall ms)
    val lags = mutable.ArrayBuffer[Double]()
    val ordersPerTick = ordersRate * tickMs / 1000
    val impsPerTick = impRate * tickMs / 1000
    var k = 1
    // the run's time is the steady phase. It starts `warmup_s` after live
    // traffic has begun: until then the JIT is still compiling the batch
    // path and the batches shrink from batch to batch
    val warmupMs = (a.dbl("warmup_s") * 1000).toLong
    val steadyFrom = liveFrom + warmupMs
    val endMs = steadyFrom + (a.seconds * 1000).toLong
    while (System.currentTimeMillis() < endMs && queries.forall(_.isActive)) {
      val dueMs = liveFrom + k.toLong * tickMs
      val now = System.currentTimeMillis()
      if (now < dueMs) Thread.sleep(dueMs - now)
      lags += (System.currentTimeMillis() - dueMs).toDouble
      // fractional rates carry over exactly: tick k adds floor(k·r) − floor((k−1)·r)
      val no = (math.floor(k * ordersPerTick) - math.floor((k - 1) * ordersPerTick)).toInt
      val ni = (math.floor(k * impsPerTick) - math.floor((k - 1) * impsPerTick)).toInt
      val off = tick(E0 + k.toLong * tickMs, no, ni, dueMs)
      due.synchronized(due += (off -> dueMs))
      k += 1
    }
    val liveEnd = System.currentTimeMillis()
    // the batches that consume the last live ticks are still measured:
    // their events waited longest
    queries.foreach(_.processAllAvailable())
    // ---- off the clock: flush events close every window and join
    flushing = true
    // (the watermark they raise is applied by the no-data batch that
    // follows, which processAllAvailable waits for)
    add(ordersIn, "orders", Seq(s"$FlushMs,0,flush,1.0"), noKey, FlushMs, flush = true)
    add(impIn, "impressions", Seq(s"$FlushMs,impression_flush,user_0,ad_flush"), impKey, FlushMs,
      flush = true)
    add(clkIn, "clicks", Seq(s"$FlushMs,user_0,impression_none,ad_flush,click_flush"), clkKey,
      FlushMs, flush = true)
    queries.foreach(_.processAllAvailable())
    val failures = queries.flatMap(_.exception).map(_.toString)
    val progress: Map[String, Seq[StreamingQueryProgress]] = queries.map { q =>
      q.name -> q.recentProgress.toSeq.groupBy(_.batchId).values.map(_.last).toSeq
        .sortBy(_.batchId)
    }.toMap
    queries.foreach(_.stop())
    // the streaming state is released with the queries; what stays is
    // what the session keeps
    val heapMb = Main.retainedHeapMb()

    // ---- figures
    val dueOf = due.toMap + (0L -> setupWall)
    def startOffset(p: StreamingQueryProgress): Long =
      p.sources.map(s => Option(s.startOffset).map(_.trim.toLong).getOrElse(-1L)).max
    def endOffset(p: StreamingQueryProgress): Long =
      p.sources.map(s => Option(s.endOffset).map(_.trim.toLong).getOrElse(-1L)).max
    val batchOps = ops.all.filter(o => o.kind == "orders_batch" || o.kind == "ctr_batch")
    val progOf = batchOps.map { o =>
      val q = if (o.kind == "orders_batch") "orders_averages" else "click_through_rate"
      o -> progress(q).find(_.batchId == o.extra("batch_id").toLong)
    }.toMap
    val catchupEnd = Seq("orders_batch", "ctr_batch").map(kind =>
      batchOps.filter(o => o.kind == kind && o.extra("batch_id") == 0).map(_.endMs).maxOption
        .getOrElse(Double.NaN)).max
    val added = due.toSeq.sortBy(_._1)
    batchOps.foreach { o =>
      progOf(o).foreach { p =>
        val d = p.durationMs.asScala.map { case (x, v) => x -> v.doubleValue() }
        val end = endOffset(p)
        o.extra("end_offset") = end.toDouble
        // newest event consumed: the tick at the batch's end offset
        dueOf.get(end).foreach(dm => o.extra("emit_latency_ms") = o.endMs - dm)
        o.extra("batch_ms") = d.getOrElse("triggerExecution", 0.0)
        o.extra("batch_planning_ms") = d.getOrElse("queryPlanning", 0.0)
        o.extra("add_batch_ms") = d.getOrElse("addBatch", 0.0)
        o.extra("wal_commit_ms") = d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)
        o.extra("rows_per_batch") = p.numInputRows.toDouble
        o.extra("state_rows") = p.stateOperators.map(_.numRowsTotal).sum.toDouble
        o.extra("state_mem_mb") = p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0
        o.extra("state_commit_ms") = p.stateOperators.map(_.commitTimeMs).sum.toDouble
        o.extra("watermark_dropped_rows") =
          p.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble
        // ticks already added when the batch's sink returned, not yet consumed
        o.extra("backlog_events") = added.count { case (off, dm) => off > end && dm <= o.endMs } *
          (ordersPerTick + impsPerTick)
        o.extra("gen_lag_ms") = Stats.median(lags)
      }
      if (o.kind == "ctr_batch") {
        o.extra("store_merge_ms") = o.childMs("build")
        for (p <- progOf(o); w <- o.extra.get("store_bytes_written")) {
          val in = (startOffset(p) + 1 to endOffset(p)).map(ctrInputBytes).sum
          o.extra("write_amp") = if (in > 0) w / in else 0.0
        }
      }
    }
    // steady phase: emitting batches that started in it
    def steady(kind: String): Seq[Op] = batchOps
      .filter(o => o.kind == kind && o.startMs > steadyFrom && o.ok &&
        o.extra.getOrElse("emitted_rows", 0.0) > 0 && o.extra.contains("emit_latency_ms"))
    val ctrLat = steady("ctr_batch").map(_.extra("emit_latency_ms"))
    val avgLat = steady("orders_batch").map(_.extra("emit_latency_ms"))
    // per event: each tick due in the steady phase waits until the sink of
    // the batch that consumed it returns; hundreds of samples a run where
    // a topology has only a handful of batches
    def eventLatencies(kind: String): Seq[Double] =
      batchOps.filter(o => o.kind == kind && o.ok).flatMap { o =>
        progOf(o).toSeq.flatMap { p =>
          val (from, to) = (startOffset(p), endOffset(p))
          added.collect { case (off, dm) if off > from && off <= to && dm >= steadyFrom =>
            o.endMs - dm }
        }
      }
    // whether the open loop keeps up: the backlog early and late in the
    // steady phase, and each batch's duration against the seconds of
    // input it consumed
    def trend(kind: String): Seq[(String, Double)] = {
      val live = batchOps.filter(o => o.kind == kind && o.ok && o.startMs > steadyFrom &&
        o.startMs < liveEnd).sortBy(_.startMs)
      val (early, late) = live.splitAt(live.size / 2)
      def backlog(xs: Seq[Op]) = Stats.median(xs.flatMap(_.extra.get("backlog_events")))
      val name = kind.stripSuffix("_batch")
      Seq(s"${name}_backlog_early" -> backlog(early), s"${name}_backlog_late" -> backlog(late),
        s"${name}_batch_s_p50" -> Stats.median(live.map(_.wallMs)) / 1000,
        s"${name}_input_s_p50" -> Stats.median(live.flatMap(progOf(_)).map(p =>
          (endOffset(p) - startOffset(p)) * tickMs / 1000.0)))
    }
    val ctrEvents = eventLatencies("ctr_batch")
    val ordersEvents = eventLatencies("orders_batch")
    val dropped = progress.values.flatten.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum

    // check inputs for DuckDB: the event log, the emitted window
    // averages and the final CtrStore table
    val checkDir = new File(root, "stream_check")
    checkDir.mkdirs()
    def dump(name: String, lines: Iterable[String]): Unit = {
      val w = new PrintWriter(new File(checkDir, name), "UTF-8")
      lines.foreach(w.println)
      w.close()
    }
    log.foreach { case (topic, lines) => dump(s"$topic.csv", lines) }
    dump("order_averages.csv", ordersOut.map { case (b, k2, v) => s"$b|$k2|$v" })
    dump("ctr_updates.csv", ctrOut.map { case (b, k2, v) => s"$b|$k2|$v" })
    dump("ctr_table.csv", store.table(spark).collect().map(r =>
      s"${r.getString(0)},${r.getLong(1)},${r.getLong(2)}"))

    val catchupS = (catchupEnd - t0) / 1000.0
    Main.Outcome(
      metrics = Map(
        "cold_pass_s" -> catchupS,
        "op_ms" -> Stats.median(ctrEvents),
        "op_p90_ms" -> Stats.pct(ctrEvents, 0.9),
        "aux_ms" -> Stats.median(ordersEvents),
        "ctr_events" -> ctrEvents.size.toDouble,
        "orders_events" -> ordersEvents.size.toDouble,
        "ops_per_s" -> backlogEvents / catchupS,
        "retained_heap_mb" -> heapMb,
        "ctr_emit_p50_ms" -> Stats.median(ctrLat),
        "ctr_emit_p90_ms" -> Stats.pct(ctrLat, 0.9),
        "avg_emit_p50_ms" -> Stats.median(avgLat),
        "avg_emit_p90_ms" -> Stats.pct(avgLat, 0.9),
        "catchup_eps" -> backlogEvents / catchupS,
        "ctr_batches" -> ctrLat.size.toDouble,
        "avg_batches" -> avgLat.size.toDouble,
        "backlog_events" -> backlogEvents.toDouble,
        "live_events" -> (log.values.map(_.size).sum - backlogEvents).toDouble,
        "live_s" -> (liveEnd - liveFrom) / 1000.0,
        "gen_lag_p50_ms" -> Stats.median(lags),
        "gen_lag_max_ms" -> lags.maxOption.getOrElse(0.0)) ++
        trend("ctr_batch") ++ trend("orders_batch"),
      checks = Map(
        "stream_check" -> checkDir.getPath,
        "watermark_dropped_rows" -> dropped,
        "query_failures" -> failures,
        "orders_emitting_batches" -> ordersOut.map(_._1).distinct.size,
        "ctr_emitting_batches" -> ctrOut.map(_._1).distinct.size),
      failedOps = failures.size)
  }
}
