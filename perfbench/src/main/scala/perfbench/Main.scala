package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run of one workload in a fresh JVM.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <inputs dir> --root <run dir> --out <result.json>
  *   [--param key=value]...
  *
  * `run.py` stages the inputs, starts this process, runs the output
  * checks that need DuckDB and prints the result line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, root: String, out: String, params: Map[String, String]) {
    def str(k: String): String = params.getOrElse(k, sys.error(s"missing --param $k"))
    def int(k: String): Int = str(k).toInt
    def dbl(k: String): Double = str(k).toDouble
    def list(k: String): Seq[String] = str(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** What a workload hands back: its ops plus the end-to-end figures it
    * defines, and the output checks it made itself. */
  final case class Outcome(metrics: Map[String, Double], checks: Map[String, Any],
      failedOps: Int = 0, layer: Map[String, Double] = Map.empty)

  def parse(argv: Array[String]): Args = {
    val kv = mutable.Map[String, String]()
    val params = mutable.Map[String, String]()
    argv.grouped(2).foreach {
      case Array("--param", p) => val Array(k, v) = p.split("=", 2); params(k) = v
      case Array(k, v) if k.startsWith("--") => kv(k.drop(2)) = v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("root"), kv("out"), params.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    mark("session ready")
    val cores = spark.sparkContext.defaultParallelism
    val tracer = if (a.trace) Some(new Tracer(spark, cores)) else None
    tracer.foreach(_.start())
    val ops = new Ops(spark, tracer)
    val outcome = a.workload match {
      case "short_queries" => QueryWorkload.run(spark, ops, a)
      case "ref_stream" => RefStream.run(spark, ops, a)
      case w => sys.error(s"unknown workload $w")
    }
    val all = ops.all
    val firstOp = ops.timedStartMs
    val traced = tracer.map { t =>
      t.drain()
      t.stop()
      t.report(all, new File(a.out.stripSuffix(".json") + ".spans.jsonl"))
    }
    val failedOps = all.count(!_.ok) + outcome.failedOps
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload,
      "seed" -> a.seed,
      "cores" -> cores,
      "first_op_ms" -> firstOp,
      "attempted" -> all.size,
      "failed_ops" -> failedOps,
      "ops_by_name" -> all.groupBy(_.name).view.mapValues(_.size).toMap,
      "ops_by_kind" -> all.groupBy(_.kind).view.mapValues(_.size).toMap,
      "errors" -> all.flatMap(o => o.error.map(e => s"${o.name}: $e")).distinct.take(20),
      "metrics" -> outcome.metrics,
      "ops" -> all.map(o => Seq(o.kind, o.name, o.warm, o.wallMs)),
      "checks" -> outcome.checks)
    traced.foreach(r => result ++= Report.layers(r, a.workload, outcome.layer))
    val w = new PrintWriter(a.out)
    w.println(Json(result))
    w.close()
    spark.stop()
  }

  /** Used heap after full GCs: the least of five readings, each after a
    * full GC and a pause in which Spark's context cleaner can drop the
    * blocks of collected RDDs and broadcasts. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Wall seconds of a sequence of ops. */
  def sumS(ops: Seq[Op]): Double = ops.map(_.wallMs).sum / 1000.0
}
