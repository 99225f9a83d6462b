package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer-by-layer recording for the traced run.
  *
  * Registers one SparkListener (jobs, stages, tasks), one
  * QueryExecutionListener (planning phases and per-operator SQLMetric
  * time of every QueryExecution) and one StreamingQueryListener
  * (micro-batch progress). Jobs find their operation through the span id
  * the benchmark sets as a local property before calling the engine; a
  * QueryExecution finds it through the SQL execution id its jobs carry,
  * or else through the one operation whose interval holds its planning.
  * Everything stays in memory and is written out once, at the end.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val qes = mutable.ArrayBuffer[QeRec]()
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  private val accumErrors = mutable.ArrayBuffer[(Double, String)]()
  private val opSnap = mutable.Map[Long, Snap]()
  private val opRdds = mutable.Map[Long, Set[Int]]()
  private val opAfter = mutable.Map[Long, Map[String, Double]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs(e.jobId) = JobRec(e.jobId, prop(Ops.SpanProp).map(_.toLong).getOrElse(-1L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        // the result stage's name is the job's short call site; its
        // details carry the long one, which names Materialize seams
        e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""),
        e.stageInfos.exists(s => s.details.contains("Materialize") ||
          s.name.toLowerCase.contains("checkpoint")),
        e.time.toDouble)
      e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time.toDouble
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val i = e.stageInfo
      stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
        StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1)))
        .startMs = i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
        StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1)))
      s.endMs = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble
      s.failed = i.failureReason.isDefined
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        StageRec(e.stageId, stageJob.getOrElse(e.stageId, -1)))
      val i = e.taskInfo
      val t = TaskRec(i.launchTime.toDouble, i.finishTime.toDouble, i.successful)
      Option(e.taskMetrics).foreach { m =>
        t.runMs = m.executorRunTime.toDouble
        t.cpuMs = m.executorCpuTime / 1e6
        t.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime.toDouble
        t.shRead = m.shuffleReadMetrics.totalBytesRead.toDouble
        t.shWrite = m.shuffleWriteMetrics.bytesWritten.toDouble
        t.spill = (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
      }
      s.tasks += t
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe)
  }

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
    val plan = scala.util.Try(qe.executedPlan).toOption
    val opTimes = mutable.Map[String, Double]().withDefaultValue(0.0)
    var exchanges = 0
    plan.foreach(p => walk(p) { node =>
      node match {
        case _: ShuffleExchangeLike | _: ReusedExchangeExec => exchanges += 1
        case _ =>
      }
      node.metrics.values.foreach { m =>
        m.metricType match {
          case "timing" => opTimes(node.nodeName) += m.value.toDouble
          case "nsTiming" => opTimes(node.nodeName) += m.value / 1e6
          case _ =>
        }
      }
    })
    lock.synchronized {
      qes += QeRec(qe.id, funcName, phases, opTimes.toMap, exchanges)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      lock.synchronized(progress += e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** ERROR lines of the DAGScheduler about updates to accumulators that
    * no longer exist: work whose result is thrown away. */
  private val accumAppender =
    new AbstractAppender("perfbench-accum", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("Failed to update accumulator"))
          lock.synchronized(accumErrors += (e.getTimeMillis.toDouble -> msg.take(160)))
      }
    }
  private val dagLogger =
    LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler").asInstanceOf[CoreLogger]

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    accumAppender.start()
    dagLogger.addAppender(accumAppender)
  }

  def stop(): Unit = {
    dagLogger.removeAppender(accumAppender)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def opStarted(op: Op): Unit = {
    val rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    lock.synchronized {
      opSnap(op.id) = Snap.take()
      opRdds(op.id) = rdds
    }
  }

  def opEnded(op: Op): Unit = {
    val (before, rddsBefore) = lock.synchronized((opSnap(op.id), opRdds(op.id)))
    val after = Snap.take()
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs.keySet
    val storageMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    lock.synchronized {
      opAfter(op.id) = Map(
        "gc_ms" -> (after.gcMs - before.gcMs),
        "jit_ms" -> (after.jitMs - before.jitMs),
        "code_cache_mb" -> after.codeCacheMb,
        "persistent_rdds" -> rdds.size.toDouble,
        // RDDs persisted or locally checkpointed during the op (the
        // Materialize seams) and still held when it ended
        "materialized_rdds" -> rdds.count(!rddsBefore(_)).toDouble,
        "storage_mb" -> storageMb)
    }
  }

  /** Wait until the listener bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val (n, open) = lock.synchronized((jobs.size + qes.size, jobs.values.exists(_.endMs < 0)))
      if (n == last && !open) stable += 1 else stable = 0
      last = n
    }
  }

  /** Per-op layer metrics, spans file, self time per layer and the
    * attribution of accumulator-update errors. */
  def report(ops: Seq[Op], spansFile: File): TraceReport = lock.synchronized {
    val byOp = ops.map(o => o.id -> o).toMap
    val jobsOf = jobs.values.groupBy(_.span)
    val execSpan = jobs.values.filter(_.execId >= 0).map(j => j.execId -> j.span).toMap
    val qeOf = qes.groupBy { q =>
      execSpan.getOrElse(q.id, {
        val t = q.phases.values.map(_._1).minOption.getOrElse(-1.0)
        ops.filter(o => o.startMs <= t && t <= o.endMs) match {
          case Seq(o) => o.id
          case _ => -1L
        }
      })
    }
    val stagesOfJob = stages.values.groupBy(_.jobId)
    val w = new PrintWriter(spansFile)
    val perOp = ops.map { op =>
      val js = jobsOf.getOrElse(op.id, Nil).toSeq
      val ss = js.flatMap(j => stagesOfJob.getOrElse(j.id, Nil))
      val ts = ss.flatMap(_.tasks)
      val qs = qeOf.getOrElse(op.id, Nil).toSeq
      val build = op.children.filter(_.name == "build").toSeq
      def within(c: Seq[Child], t: Double) = c.exists(b => b.startMs <= t && t <= b.endMs)
      val jobIv = js.map(j => (j.startMs, if (j.endMs < 0) op.endMs else j.endMs))
      val stageIv = ss.map(s => (s.startMs, if (s.endMs < 0) op.endMs else s.endMs))
      val taskIv = ts.map(t => (t.launchMs, t.finishMs))
      val planIv = qs.flatMap(_.phases.values)
      val jobWall = Intervals.length(jobIv)
      val taskMs = ts.map(_.runMs).sum
      val jobEnd = js.map(j => j.id -> j.endMs).toMap
      val wasted = ss.flatMap { s =>
        val jobFailed = js.exists(j => j.id == s.jobId && !j.ok)
        s.tasks.filter(t => jobFailed || !t.ok ||
          jobEnd.get(s.jobId).exists(e => e > 0 && t.finishMs > e))
      }.size
      val skew = ss.filter(_.tasks.size >= 2).map { s =>
        val d = s.tasks.map(t => t.finishMs - t.launchMs)
        d.max / math.max(1.0, Stats.median(d))
      }.maxOption.getOrElse(1.0)
      val opTimes = qs.flatMap(_.opTimes).groupMapReduce(_._1)(_._2)(_ + _)
      def phase(k: String) = qs.flatMap(_.phases.get(k)).map(p => p._2 - p._1).sum
      val nested: Seq[(String, Seq[(Double, Double)])] = Seq(
        "bench" -> Seq((op.startMs, op.endMs)),
        "graft.packs" -> op.children.filter(_.layer != "sink").map(c => (c.startMs, c.endMs)).toSeq,
        "sink" -> op.children.filter(_.layer == "sink").map(c => (c.startMs, c.endMs)).toSeq,
        "spark.planner" -> planIv,
        "spark.scheduler" -> jobIv,
        "spark.stage" -> stageIv,
        "spark.task" -> taskIv)
      val self = nested.zipWithIndex.map { case ((layer, iv), i) =>
        val deeper = nested.drop(i + 1).filterNot(x => x._1 == "sink" && layer == "graft.packs")
          .flatMap(_._2)
        layer -> Intervals.selfLength(iv, deeper)
      }.toMap[String, Double]
      val m = mutable.LinkedHashMap[String, Double](
        "build_ms" -> op.childMs("build"),
        "build_jobs" -> js.count(j => within(build, j.startMs)).toDouble,
        "query_executions" -> qs.size.toDouble,
        "checkpoint_jobs" -> js.count(_.checkpoint).toDouble,
        "analysis_ms" -> phase("analysis"),
        "optimizer_ms" -> phase("optimization"),
        "physical_plan_ms" -> phase("planning"),
        "jobs" -> js.size.toDouble,
        "stages" -> ss.size.toDouble,
        "tasks" -> ts.size.toDouble,
        "job_wall_ms" -> jobWall,
        "driver_gap_ms" -> math.max(0.0, op.wallMs - jobWall),
        "slot_util" -> (if (jobWall > 0) taskMs / (jobWall * cores) else 0.0),
        "wasted_task_ratio" -> (if (ts.nonEmpty) wasted.toDouble / ts.size else 0.0),
        "shuffle_write_bytes" -> ts.map(_.shWrite).sum,
        "shuffle_read_bytes" -> ts.map(_.shRead).sum,
        "fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum,
        "spill_bytes" -> ts.map(_.spill).sum,
        "task_skew" -> skew,
        "task_cpu_ms" -> ts.map(_.cpuMs).sum,
        "task_run_ms" -> taskMs,
        "op_time_ms" -> opTimes.values.sum,
        "probe_exchanges" -> qs.map(_.exchanges).sum.toDouble)
      m ++= opAfter.getOrElse(op.id, Map.empty)
      m ++= op.extra
      w.println(Json(Map("id" -> op.id, "parent" -> null, "name" -> op.name,
        "kind" -> op.kind, "layer" -> "bench", "start_ms" -> op.startMs,
        "end_ms" -> op.endMs, "warm" -> op.warm, "ok" -> op.ok, "metrics" -> m,
        "self_ms" -> self,
        "top_operators" -> opTimes.toSeq.sortBy(-_._2).take(3).map(x => Seq(x._1, x._2)))))
      op.children.foreach(c => w.println(Json(Map("parent" -> op.id, "name" -> c.name,
        "layer" -> c.layer, "start_ms" -> c.startMs, "end_ms" -> c.endMs))))
      qs.foreach(q => q.phases.foreach { case (k, (s, e)) =>
        w.println(Json(Map("parent" -> op.id, "name" -> s"${q.funcName}.$k",
          "layer" -> "spark.planner", "qe" -> q.id, "start_ms" -> s, "end_ms" -> e)))
      })
      js.foreach(j => w.println(Json(Map("parent" -> op.id, "name" -> s"job ${j.id}",
        "layer" -> "spark.scheduler", "call_site" -> j.callSite, "ok" -> j.ok,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs))))
      ss.foreach(s => w.println(Json(Map("parent" -> s"job ${s.jobId}",
        "name" -> s"stage ${s.stageId}", "layer" -> "spark.stage", "failed" -> s.failed,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "tasks" -> s.tasks.size,
        "task_run_ms" -> s.tasks.map(_.runMs).sum))))
      op -> ((m.toMap, self, opTimes))
    }
    progress.foreach(p => w.println(p.json.replace("\n", " ")))
    w.close()
    // accumulator errors: the op open at the time, and the call site of
    // the latest job that op had started by then
    val accum = accumErrors.toSeq.map { case (t, _) =>
      val op = ops.filter(o => o.startMs <= t && t <= o.endMs + 1000).lastOption
      val site = op.flatMap(o => jobsOf.getOrElse(o.id, Nil).filter(_.startMs <= t)
        .toSeq.sortBy(_.startMs).lastOption).map(_.callSite).getOrElse("?")
      (op.map(_.name).getOrElse("(no operation)"), site)
    }.groupBy(identity).view.mapValues(_.size).toSeq.sortBy(-_._2)
    TraceReport(perOp, accum, accumErrors.size,
      jobs.values.count(_.span < 0), byOp.size)
  }
}

final case class TraceReport(
    perOp: Seq[(Op, (Map[String, Double], Map[String, Double], Map[String, Double]))],
    accumErrors: Seq[((String, String), Int)], accumErrorCount: Int,
    unattributedJobs: Int, ops: Int)

object Tracer {
  final case class JobRec(id: Int, span: Long, execId: Long, callSite: String,
      checkpoint: Boolean, startMs: Double, var endMs: Double = -1, var ok: Boolean = true)
  final case class StageRec(stageId: Int, jobId: Int, var startMs: Double = -1,
      var endMs: Double = -1, var failed: Boolean = false,
      tasks: mutable.ArrayBuffer[TaskRec] = mutable.ArrayBuffer())
  final case class TaskRec(launchMs: Double, finishMs: Double, ok: Boolean,
      var runMs: Double = 0, var cpuMs: Double = 0, var fetchWaitMs: Double = 0,
      var shRead: Double = 0, var shWrite: Double = 0, var spill: Double = 0)
  final case class QeRec(id: Long, funcName: String, phases: Map[String, (Double, Double)],
      opTimes: Map[String, Double], exchanges: Int)

  /** Depth-first over a physical plan, through adaptive and query-stage
    * wrappers, so the final adaptive plan's metrics are the ones read. */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _ => p.children.foreach(walk(_)(f))
    }
    p.subqueries.foreach(walk(_)(f))
  }

  /** JVM counters read before and after each op. */
  final case class Snap(gcMs: Double, jitMs: Double, codeCacheMb: Double)
  object Snap {
    def take(): Snap = Snap(
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0)
  }
}

/** Interval arithmetic over (start, end) pairs in milliseconds. */
object Intervals {
  def merge(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def length(iv: Seq[(Double, Double)]): Double = merge(iv).map(x => x._2 - x._1).sum

  /** Length of the union of `iv` not covered by the union of `deeper`. */
  def selfLength(iv: Seq[(Double, Double)], deeper: Seq[(Double, Double)]): Double = {
    val outer = merge(iv)
    val inner = merge(deeper)
    val covered = outer.map { case (s, e) =>
      inner.map { case (a, b) => math.max(0.0, math.min(e, b) - math.max(s, a)) }.sum
    }.sum
    outer.map(x => x._2 - x._1).sum - covered
  }
}
