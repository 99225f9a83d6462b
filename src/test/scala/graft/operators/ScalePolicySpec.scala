package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.{SparkEntry, SparkSpec, Tables}

/** The one scale predicate: `spark.graft.scale=wide` forces every scale
  * site onto its corpus-scale branch, which must return the same rows as
  * the small-input branch `auto` takes on the fixtures — through a
  * different executed plan — and the `auto` memo never answers for
  * `wide`. */
class ScalePolicySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def withScale[A](mode: String)(body: => A): A = {
    val prev = spark.conf.getOption(ScalePolicy.Conf)
    spark.conf.set(ScalePolicy.Conf, mode)
    try body
    finally prev.fold(spark.conf.unset(ScalePolicy.Conf))(
      spark.conf.set(ScalePolicy.Conf, _))
  }

  /** Rows in a canonical order, plus the executed plan's operator names
    * (AQE's final plan, query stages included). */
  private def run(df: DataFrame): (Seq[String], Seq[String]) = {
    val rows = df.collect().toSeq.map((r: Row) => r.toString).sorted
    (rows, collect(df.queryExecution.executedPlan) { case p => p.nodeName })
  }

  // one query per site family: a fanOut site (Blocklist.phraseHits), a
  // materialize-once site (PipelineOps.pipelineCurate), the fan-out +
  // materialize pair (TextOps.chunkEmbedAnn) and the bigram smallDims
  // join-hint gate (TextAnalysis.bigramLogProb)
  for (name <- Seq("blocklist_hits", "pipeline_curate", "chunk_embed_ann",
      "bigram_logprob"))
    test(s"$name: wide returns the auto rows through a different plan") {
      val q = SparkEntry.queries(name)
      val (autoRows, autoPlan) = withScale("auto")(run(q(spark, sf)))
      val (wideRows, widePlan) = withScale("wide")(run(q(spark, sf)))
      assert(autoRows.nonEmpty)
      assert(wideRows == autoRows, s"$name: wide changed the answer")
      assert(widePlan != autoPlan, s"$name: wide ran the auto plan")
    }

  test("narrow: auto, wide, auto on one plan gives true, false, true") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(withScale("auto")(ScalePolicy.narrow(docs)))
    assert(!withScale("wide")(ScalePolicy.narrow(docs)))
    assert(withScale("auto")(ScalePolicy.narrow(docs)))
  }

  test("an unknown mode is refused") {
    val docs = Tables.documents(spark, sf)
    intercept[IllegalArgumentException](
      withScale("narrow")(ScalePolicy.narrow(docs)))
  }
}
