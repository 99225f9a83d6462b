package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A timed interval inside an operation (`build`, `action`, a streaming
  * progress phase). Times are epoch milliseconds. */
final case class Child(name: String, layer: String, startMs: Double, endMs: Double)

/** One measured operation: a query execution or a micro-batch. It is the
  * root span of everything the engine does for it; jobs find their
  * operation through the [[Ops.SpanProp]] property. */
final class Op(val id: Long, val kind: String, val name: String, val warm: Boolean) {
  private val t0 = System.nanoTime()
  val startMs: Double = System.currentTimeMillis().toDouble
  var endMs: Double = startMs
  var wallMs: Double = 0.0
  var error: Option[String] = None
  val children = mutable.ArrayBuffer[Child]()
  /** Workload-specific figures (emit latency, bytes written, …). */
  val extra = mutable.LinkedHashMap[String, Double]()

  def ok: Boolean = error.isEmpty
  def childMs(name: String): Double =
    children.filter(_.name == name).map(c => c.endMs - c.startMs).sum
  private[perfbench] def finish(): Unit = {
    wallMs = (System.nanoTime() - t0) / 1e6
    endMs = startMs + wallMs
  }
}

/** Runs operations with a root span each and keeps their records. With a
  * [[Tracer]] attached, the tracer also snapshots per-op counters. */
final class Ops(spark: SparkSession, tracer: Option[Tracer]) {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer[Op]()

  def all: Seq[Op] = done.synchronized(done.toList)

  /** Epoch ms at which the workload's timed phase began: the end of set-up. */
  @volatile var timedStartMs: Double = Double.NaN
  def timedStart(): Unit = timedStartMs = System.currentTimeMillis().toDouble

  /** Run `body` as one operation on the calling thread. An exception is
    * recorded on the op (it counts as failed), never rethrown. */
  def run(kind: String, name: String, warm: Boolean)(body: Op => Unit): Op = {
    val sc = spark.sparkContext
    val op = new Op(ids.incrementAndGet(), kind, name, warm)
    sc.setLocalProperty(Ops.SpanProp, op.id.toString)
    tracer.foreach(_.opStarted(op))
    try body(op)
    catch { case NonFatal(e) => op.error = Some(e.toString.take(300)) }
    finally {
      op.finish()
      sc.setLocalProperty(Ops.SpanProp, null)
      tracer.foreach(_.opEnded(op))
      done.synchronized(done += op)
    }
    op
  }

  /** Time `f` as a child span of `op`. */
  def child[T](op: Op, name: String, layer: String)(f: => T): T = {
    val s = System.currentTimeMillis().toDouble
    val t = System.nanoTime()
    try f
    finally {
      val ms = (System.nanoTime() - t) / 1e6
      op.children.synchronized(op.children += Child(name, layer, s, s + ms))
    }
  }
}

object Ops {
  /** Spark local property carrying the current operation's span id. */
  val SpanProp = "perfbench.span"
}
