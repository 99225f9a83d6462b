package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `short_queries`: one client runs a fixed query set
  * in a closed loop. A cold pass executes every query once; a fixed
  * number of warm passes follows, each in its own seeded order.
  * An execution is the pack call that builds the query plus a `noop`
  * write, which materialises every output column (`count()` would let
  * the optimizer prune them). After the timed phase every query's result
  * is written once as parquet for the DuckDB oracle compare. */
object QueryWorkload {

  def run(spark: SparkSession, ops: Ops, a: Main.Args): Main.Outcome = {
    val names = a.list("queries")
    val all = graft.SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val rnd = new scala.util.Random(a.seed)

    def exec(name: String, warm: Boolean): Op = ops.run("query", name, warm) { op =>
      val df = ops.child(op, "build", "graft.packs")(all(name)(spark, a.data))
      ops.child(op, "action", "sink")(noop(df))
    }

    ops.timedStart()
    val cold = rnd.shuffle(names).map(exec(_, warm = false))
    val coldS = Main.sumS(cold)
    // the timed phase is a fixed number of whole warm passes, sized to
    // take about the run's time, so every run measures the same work;
    // three times the run's time cuts it short at a pass boundary
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < a.int("warm_passes") &&
        (passes == 0 || (System.nanoTime() - t0) / 1e9 < 3 * a.seconds)) {
      rnd.shuffle(names).foreach(exec(_, warm = true))
      passes += 1
    }
    val heapMb = Main.retainedHeapMb()
    val warm = ops.all.filter(o => o.warm && o.kind == "query")
    val wallMs = warm.map(_.wallMs)
    // typical latency: the geometric mean over queries of each query's
    // median; a median pooled over all executions jumps between the
    // queries that happen to sit at its rank
    def typical(f: Op => Double): Double =
      Stats.geomean(warm.groupBy(_.name).values.map(xs => Stats.median(xs.map(f))))

    // off the clock: results for the oracle compare; in the traced run
    // also one count() next to one noop write per query, to read the
    // count()-based history of graft.Bench against these numbers
    val outDir = new java.io.File(a.root, "query_out")
    val written = names.map { n =>
      n -> scala.util.Try(all(n)(spark, a.data).write.mode("overwrite")
        .parquet(new java.io.File(outDir, n).getPath)).isSuccess
    }.toMap
    val countVsNoop = if (!a.trace) Map.empty[String, Seq[Double]] else names.map { n =>
      val df = all(n)(spark, a.data)
      val c0 = System.nanoTime(); df.count()
      val c1 = System.nanoTime(); noop(df)
      val c2 = System.nanoTime()
      n -> Seq((c1 - c0) / 1e6, (c2 - c1) / 1e6)
    }.toMap

    Main.Outcome(
      metrics = Map(
        "cold_pass_s" -> coldS,
        "op_ms" -> typical(_.wallMs),
        "op_p90_ms" -> Stats.pct(wallMs, 0.9),
        "aux_ms" -> typical(_.childMs("action")),
        "ops_per_s" -> warm.size / Main.sumS(warm),
        "retained_heap_mb" -> heapMb,
        "query_p50_s" -> Stats.median(wallMs) / 1000,
        "query_p90_s" -> Stats.pct(wallMs, 0.9) / 1000,
        "queries_per_s" -> warm.size / Main.sumS(warm),
        "warm_passes" -> passes.toDouble,
        "warm_executions" -> warm.size.toDouble),
      checks = Map(
        "query_out" -> outDir.getPath,
        "queries" -> names,
        "oracle" -> graft.SparkEntry.oracleSql.filter(x => names.contains(x._1)),
        "written" -> written,
        "count_vs_noop_ms" -> countVsNoop),
      layer = if (countVsNoop.isEmpty) Map.empty else Map(
        "count_ms" -> Stats.median(countVsNoop.values.map(_.head)),
        "noop_ms" -> Stats.median(countVsNoop.values.map(_(1)))))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
