package graft.tools

/** Dev tool: time MANY named queries in one session (usage:
  * ProfileMany <name1,name2,...|@prefix> [reps] [sfDir] [ab:key=value]).
  * One warmup + `reps` timed runs per query, prints per-query
  * min/median and job counts — the cheap way to A/B a batch of queries
  * without paying a JVM+session spin-up per query (BenchOne) or
  * per-job detail (JobProfile). `@p` selects every bench query whose
  * name starts with `p`. Honors SPARK_GRAFT_SET like BenchOne.
  *
  * With a 4th arg `ab:<key>=<value>` each query instead runs 2×reps
  * with the session conf `key` set to `value` on ALTERNATE reps and at
  * its prior setting on the others (same session, same JIT state —
  * removes the cross-session noise that poisons separate-JVM A/Bs) and
  * prints min/med per mode plus the delta. `ab:spark.graft.scale=wide`
  * A/Bs the small-input branch (fan-outs, materialization, join hints)
  * against the corpus-scale one.
  */
object ProfileMany {
  def main(args: Array[String]): Unit = {
    val sel = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val ab: Option[(String, String)] =
      if (args.length > 3 && args(3).startsWith("ab:"))
        args(3).drop(3).split("=", 2) match {
          case Array(k, v) => Some((k, v))
          case _ => sys.error(s"ab: wants <key>=<value>, got '${args(3)}'")
        }
      else None
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_SET").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => sys.error(s"SPARK_GRAFT_SET segment without '=': '$kv'")
        }
      })
    val all = graft.SparkEntry.benchQueries
    val names: Seq[String] =
      if (sel.startsWith("@")) all.keys.filter(_.startsWith(sel.drop(1))).toSeq.sorted
      else sel.split(",").filter(_.nonEmpty).toSeq
    val sc = spark.sparkContext
    // AtomicInteger for lost-update/visibility safety: onJobStart fires
    // on the async listener-bus thread (r17-ADVICE item 3). The count
    // read after an action may still MISS events the bus has not yet
    // delivered (the bus-drain API is private[spark]) — job counts are
    // a ±1-2 diagnostic, never a timing input; the printed jobs= column
    // inherits that tolerance.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    def one(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Int) = {
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      ((System.nanoTime() - t0) / 1e9, jobs.get() - j0)
    }
    ab match {
      case None =>
        val results = names.map { name =>
          val fn = all.getOrElse(name, sys.error(s"unknown query: $name"))
          fn(spark, sfDir).count() // warmup (codegen + JIT queueing)
          val times = (1 to reps).map(_ => one(name, fn))
          val secs = times.map(_._1).sorted
          val med = secs((secs.size - 1) / 2)
          println(f"[profilemany] $name%-40s min=${secs.head}%6.2f med=$med%6.2f jobs=${times.head._2}%3d")
          (name, secs.head, med)
        }
        println(f"[profilemany] TOTAL (${results.size} queries) " +
          f"min=${results.map(_._2).sum}%7.2f med=${results.map(_._3).sum}%7.2f")
      case Some((key, value)) =>
        val prior = spark.conf.getOption(key)
        def toggle(on: Boolean): Unit =
          if (on) spark.conf.set(key, value)
          else prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        val results = names.map { name =>
          val fn = all.getOrElse(name, sys.error(s"unknown query: $name"))
          toggle(false)
          fn(spark, sfDir).count() // warmup both plan shapes
          toggle(true)
          fn(spark, sfDir).count()
          val (off, on) = (1 to 2 * reps).map { i =>
            toggle(i % 2 == 0)
            one(name, fn)._1
          }.zipWithIndex.partition(_._2 % 2 == 0)
          toggle(false)
          val (ofs, ons) = (off.map(_._1).sorted, on.map(_._1).sorted)
          def med(xs: Seq[Double]) = xs((xs.size - 1) / 2)
          println(f"[profilemany-ab] $name%-40s off(min=${ofs.head}%6.2f med=${med(ofs)}%6.2f) " +
            f"on(min=${ons.head}%6.2f med=${med(ons)}%6.2f) dmin=${ons.head - ofs.head}%+6.2f")
          (name, ofs.head, ons.head)
        }
        println(f"[profilemany-ab] TOTAL off=${results.map(_._2).sum}%7.2f on=${results.map(_._3).sum}%7.2f")
    }
    spark.stop()
  }
}
