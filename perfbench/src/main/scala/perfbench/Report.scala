package perfbench

/** Turns a [[TraceReport]] into the per-layer figures of one workload:
  * per-operation medians over the workload's primary operations, the
  * self time of each layer, and where thrown-away work came from. */
object Report {

  /** Operation kinds whose medians stand for the workload. */
  val PrimaryKinds: Map[String, Set[String]] = Map(
    "short_queries" -> Set("query"),
    "ref_stream" -> Set("orders_batch", "ctr_batch"))

  val Layers = Seq("bench", "graft.packs", "sink", "spark.planner", "spark.scheduler",
    "spark.stage", "spark.task")

  def layers(r: TraceReport, workload: String, extra: Map[String, Double]): Map[String, Any] = {
    val primary = PrimaryKinds(workload)
    val measured = r.perOp.filter(_._1.warm)
    def med(kinds: Set[String], k: String): Double = {
      val xs = measured.filter(x => kinds(x._1.kind)).flatMap(_._2._1.get(k))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val keys = measured.flatMap(_._2._1.keys).distinct
    val perLayer = keys.map(k => k -> med(primary, k)).toMap
    val self = Layers.map { l =>
      val xs = measured.filter(x => primary(x._1.kind)).map(_._2._2.getOrElse(l, 0.0))
      l -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
    }.toMap
    val top = measured.filter(x => primary(x._1.kind))
      .flatMap(_._2._3).groupMapReduce(_._1)(_._2)(_ + _)
      .toSeq.sortBy(-_._2).take(3)
    Map(
      "per_layer" -> (perLayer ++ extra ++ self.map { case (l, v) => s"self_${shortName(l)}_ms" -> v } +
        ("accum_update_errors" -> r.accumErrorCount.toDouble)),
      "layer_self_ms" -> self,
      "top_operators_ms" -> top.map(x => Seq(x._1, x._2)),
      "accum_update_errors" -> r.accumErrors.map { case ((op, site), n) =>
        Map("operation" -> op, "call_site" -> site, "count" -> n) },
      "unattributed_jobs" -> r.unattributedJobs)
  }

  def shortName(layer: String): String = layer match {
    case "graft.packs" => "packs"
    case "spark.planner" => "planner"
    case "spark.scheduler" => "scheduler"
    case "spark.stage" => "stage"
    case "spark.task" => "task"
    case other => other
  }
}
