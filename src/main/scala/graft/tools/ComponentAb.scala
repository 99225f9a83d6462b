package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: measure the component-loop cost on a LARGE synthetic
  * corpus with a small pair graph — the regime the vertex-seeded loop
  * (r14) targets. At sf0.1 the gate corpus is 5,000 rows, so the
  * corpus-seeded vs vertex-seeded difference drowns in per-round job
  * overhead; here the corpus is `nDocs` (default 4M) rows against
  * `nChains` (default 1,000) paths of `chainLen` (default 16) ids, which
  * makes each round's shuffles visible. Paths (not 2-cliques) force
  * MULTIPLE rounds.
  *
  * Each rep runs the paths in two id layouts: `sorted` (path c is the
  * ids [c*chainLen, (c+1)*chainLen) in order) and `shuffled` (the same
  * paths with ids permuted by a fixed seed), because a loop's round
  * count can depend on whether ids run in path order. Every call prints
  * its wall time and the Spark jobs it started (a SparkListener count).
  * Usage: ComponentAb [nDocs] [nChains] [chainLen] [reps];
  * nChains * chainLen must fit an Int (the permutation is built on the
  * driver). */
object ComponentAb {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 4000000L
    val nChains = if (args.length > 1) args(1).toInt else 1000
    val chainLen = if (args.length > 2) args(2).toInt else 16
    val reps = if (args.length > 3) args(3).toInt else 5
    val spark = graft.GraftSession.local()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    })
    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      .localCheckpoint(true)
    val n = nChains * chainLen
    val perm = new scala.util.Random(42).shuffle((0L until n.toLong).toVector)
    def paths(id: Int => Long) =
      (for (c <- 0 until nChains; j <- 0 until chainLen - 1)
        yield (id(c * chainLen + j), id(c * chainLen + j + 1)))
        .toDF("doc_a", "doc_b").localCheckpoint(true)
    val layouts = Seq("sorted" -> paths(_.toLong), "shuffled" -> paths(perm))
    for (i <- 1 to reps; (layout, pairs) <- layouts) {
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val dups = graft.operators.Dedup
        .nearDupClustersFromPairs(docs.toDF(), "doc_id", pairs)
        .filter(!col("keep")).count()
      val secs = (System.nanoTime() - t0) / 1e9
      // onJobStart arrives on the asynchronous listener bus: let it
      // drain (outside the timed region) before reading the count
      Thread.sleep(500)
      println(f"[componentab] docs=$nDocs chains=$nChains len=$chainLen " +
        f"layout=$layout iter $i: $secs%.2f s jobs=${jobs.get() - j0} (dups=$dups)")
    }
    spark.stop()
  }
}
