package graft.streaming

import graft.operators.Materialize.MatOps

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Streaming twin of [[graft.operators.TextAnalysis.qualityFloor]] —
  * the corpus-RELATIVE quality floor over an unbounded stream.
  *
  * A corpus-relative cutoff is a global statistic no single micro-batch
  * can know, so the floor splits into the same two halves the batch
  * form has — a histogram and a filter — with the histogram maintained
  * incrementally:
  *
  * - **Histogram store** (this class): each micro-batch's quality_bp
  *   counts merge into a persisted (quality_bp, c) histogram via
  *   CtrStore's copy-on-write version-publish pattern. The state is
  *   bounded by the VALUE DOMAIN (≤ 10⁴+1 rows), never the stream
  *   length — the same property that makes the batch form's one global
  *   window safe.
  * - **Published cutoff**: after each merge the cutoff is recomputed
  *   from the merged histogram with the IDENTICAL shared arithmetic
  *   ([[TextAnalysis.cutoffFromHistogram]]) and published as a scalar.
  *   The 1-row read here is the publish path, not a data path.
  * - **Read-time verdicts**: keep decisions apply the published cutoff
  *   to the accumulated (id, quality_bp) docs at READ time —
  *   retroactive and corpus-relative, exactly like the batch form, so
  *   on any finalized horizon [[curated]] equals batch `qualityFloor`
  *   row-for-row (QualityFloorStreamSpec pins it).
  *
  * Cutoff-lag semantics (documented delta vs batch): a verdict read
  * between batch N and N+1 uses batches 1..N's histogram — the cutoff
  * lags the corpus by at most the in-flight batch, and a consumer that
  * filters eagerly at emit time (instead of at read time) keeps docs a
  * later, stricter cutoff would have dropped. Pipelines that need the
  * exact batch semantics read through [[curated]]; pipelines that need
  * eager emission accept the lag.
  */
final class QualityFloorStore(keepFrac: Double, dir: String,
    keyBp: Column => Column = TextAnalysis.qualityBp) extends ReplayGuarded {

  def this(keepFrac: Double) =
    this(keepFrac, Files.createTempDirectory("graft-qfloor-store").toString)

  /** A floor over a DIFFERENT integer quality key (e.g. the negated
    * LM millinat cost — the CCNet floor) — the histogram/cutoff
    * machinery is key-agnostic, only the scoring expression moves. */
  def this(keepFrac: Double, keyBp: Column => Column) =
    this(keepFrac,
      Files.createTempDirectory("graft-qfloor-store").toString, keyBp)

  require(keepFrac > 0 && keepFrac <= 1,
    s"keepFrac must be in (0, 1], got $keepFrac")

  private val store = new VersionedParquetStore(dir)
  @volatile private var publishedCutoff: Option[Long] = None
  // a committed histogram adopted from a previous JVM still needs its
  // cutoff recomputed (that takes a SparkSession the constructor
  // doesn't have) — done lazily on first use. Without adoption a
  // restarted driver would start with an EMPTY floor (curated() = no
  // rows) and a checkpoint-replayed batch would double-count its mass.
  @volatile private var adoptionPending: Boolean = store.current.nonEmpty

  private def ensureAdopted(spark: SparkSession): Unit =
    if (adoptionPending) synchronized {
      if (adoptionPending) {
        val row = TextAnalysis
          .cutoffFromHistogram(histogram(spark), keepFrac).head()
        publishedCutoff = if (row.isNullAt(0)) None else Some(row.getLong(0))
        adoptionPending = false
      }
    }

  /** Current merged histogram: (quality_bp, c). */
  def histogram(spark: SparkSession): DataFrame = store.current match {
    case None =>
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("quality_bp", "c")
    case Some(d) => spark.read.parquet(d)
  }

  /** The quality_bp column expression — the store's OWN key (the
    * heuristic by default; whatever `keyBp` the constructor pinned
    * otherwise), re-exported so stream wiring can't drift from the
    * histogram it merges into. */
  def qualityBp(text: Column): Column = keyBp(text)

  /** Merge one micro-batch's scored rows (any DataFrame with a
    * quality_bp column — [[qualityBp]] output) and publish the updated
    * cutoff. The batch-side count is a partial agg to ≤ 10⁴+1 rows
    * before it touches the store. Pass the foreachBatch `batchId` so a
    * replayed batch can't double-count its mass (at-least-once replay
    * would silently shift the cutoff for every future verdict). */
  def merge(batchScored: DataFrame,
      batchId: Long = VersionedParquetStore.NoBatchId): Unit = synchronized {
    // synchronized end-to-end (merge + cutoff recompute + assignment):
    // store.publish alone is atomic, but with two queries sharing the
    // store an older merge's cutoff could otherwise overwrite a newer
    // one between ITS publish and ITS assignment — histogram version
    // and published cutoff must advance together
    val spark = batchScored.sparkSession
    // restore the adopted cutoff first: a REPLAYED batch after a
    // restart no-ops the publish below, and the cutoff must still
    // reflect the adopted histogram, not stay None
    ensureAdopted(spark)
    val batchHist = batchScored.select(col("quality_bp"))
      .groupBy(col("quality_bp")).agg(count(lit(1)).as("c"))
    val applied = store.publish(batchId) { nextDir =>
      histogram(spark).unionByName(batchHist)
        .groupBy(col("quality_bp")).agg(sum(col("c")).cast("long").as("c"))
        .write.mode(SaveMode.Overwrite).parquet(nextDir)
    }
    if (applied) {
      // publish: shared cutoff arithmetic over the ≤ 10⁴+1-row
      // histogram; the head() is the 1-row publish read, bounded by
      // value domain
      val row = TextAnalysis
        .cutoffFromHistogram(histogram(spark), keepFrac).head()
      publishedCutoff = if (row.isNullAt(0)) None else Some(row.getLong(0))
    }
  }

  /** True when `batchId` was already merged — lets a foreachBatch body
    * skip the batch's scoring checkpoint entirely on an at-least-once
    * replay ([[merge]] itself would no-op). */
  def isReplay(batchId: Long): Boolean = store.isReplay(batchId)

  /** The published cutoff in basis points; None before the first
    * non-empty merge. */
  def cutoffBp: Option[Long] = {
    if (adoptionPending) ensureAdopted(SparkSession.active)
    publishedCutoff
  }

  /** Read-time curated view of accumulated docs (any DataFrame with a
    * quality_bp column): keep rows at or above the CURRENT published
    * cutoff — ties at the boundary included, exactly like the batch
    * floor. Before any merge the view is empty (no corpus, no floor). */
  def curated(docs: DataFrame): DataFrame = {
    ensureAdopted(docs.sparkSession)
    publishedCutoff match {
      case Some(c) => docs.filter(col("quality_bp") >= lit(c))
      case None => docs.limit(0)
    }
  }
}

/** Streaming twin of [[graft.operators.TextAnalysis.qualityFloorByGroup]]
  * — the per-GROUP (canonically per-language) corpus-relative floor
  * over an unbounded stream. Same machinery as [[QualityFloorStore]],
  * keyed by the group column: the persisted histogram is
  * (group, quality_bp, c) — state bounded by |groups| · (10⁴+1) rows,
  * never the stream length — and the publish step recomputes ONE cutoff
  * per group with the SAME shared arithmetic the batch form uses
  * ([[TextAnalysis.cutoffsFromGroupedHistogram]] — identical cutoffs,
  * zero drift), published as a |groups|-entry map (the bounded publish
  * read). Read-time verdicts join the cutoff table back broadcast, so
  * on any finalized horizon [[curated]] equals batch
  * `qualityFloorByGroup` row-for-row. A group with no merged mass has
  * no floor — its docs are dropped at read time, exactly like the
  * global store's no-corpus-no-floor empty view. Cutoff-lag semantics
  * are the global store's, per group. */
final class GroupedQualityFloorStore(keepFrac: Double, val groupCol: String,
    dir: String) extends ReplayGuarded {

  def this(keepFrac: Double, groupCol: String) =
    this(keepFrac, groupCol,
      Files.createTempDirectory("graft-gqfloor-store").toString)

  require(keepFrac > 0 && keepFrac <= 1,
    s"keepFrac must be in (0, 1], got $keepFrac")

  private val store = new VersionedParquetStore(dir)
  @volatile private var publishedCutoffs: Map[String, Long] = Map.empty
  @volatile private var adoptionPending: Boolean = store.current.nonEmpty

  // group keys are read GENERICALLY and carried by their string form:
  // the batch qualityFloorByGroup is type-generic over the group
  // column, so the streaming twin must not assume StringType (a typed
  // getString here would compile for an int-keyed group and then throw
  // ClassCastException at publish time). curated() matches on the same
  // string form via an explicit cast, so a non-string group key round-
  // trips consistently (distinct keys with equal string forms — not a
  // thing for the primitive types a group key sensibly is — would
  // collapse; documented constraint).
  private def cutoffsOf(spark: SparkSession): Map[String, Long] =
    TextAnalysis.cutoffsFromGroupedHistogram(histogram(spark), groupCol,
        keepFrac)
      .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap

  private def ensureAdopted(spark: SparkSession): Unit =
    if (adoptionPending) synchronized {
      if (adoptionPending) {
        publishedCutoffs = cutoffsOf(spark)
        adoptionPending = false
      }
    }

  /** Current merged histogram: (group, quality_bp, c). */
  def histogram(spark: SparkSession): DataFrame = store.current match {
    case None =>
      import spark.implicits._
      Seq.empty[(String, Long, Long)].toDF(groupCol, "quality_bp", "c")
    case Some(d) => spark.read.parquet(d)
  }

  /** Shared scoring expression — re-exported so wiring can't drift. */
  def qualityBp(text: Column): Column = TextAnalysis.qualityBp(text)

  /** Merge one micro-batch's scored rows (group column + quality_bp)
    * and publish the updated per-group cutoffs. Synchronized
    * end-to-end like the global store: histogram version and published
    * cutoffs advance together. */
  def merge(batchScored: DataFrame,
      batchId: Long = VersionedParquetStore.NoBatchId): Unit = synchronized {
    val spark = batchScored.sparkSession
    ensureAdopted(spark)
    val batchHist = batchScored.select(col(groupCol), col("quality_bp"))
      .groupBy(col(groupCol), col("quality_bp")).agg(count(lit(1)).as("c"))
    val applied = store.publish(batchId) { nextDir =>
      histogram(spark).unionByName(batchHist)
        .groupBy(col(groupCol), col("quality_bp"))
        .agg(sum(col("c")).cast("long").as("c"))
        .write.mode(SaveMode.Overwrite).parquet(nextDir)
    }
    if (applied) publishedCutoffs = cutoffsOf(spark)
  }

  /** True when `batchId` was already merged. */
  def isReplay(batchId: Long): Boolean = store.isReplay(batchId)

  /** The published per-group cutoffs in basis points; empty before the
    * first non-empty merge. */
  def cutoffsBp: Map[String, Long] = {
    if (adoptionPending) ensureAdopted(SparkSession.active)
    publishedCutoffs
  }

  /** Read-time curated view of accumulated docs (group column +
    * quality_bp): keep rows at or above THEIR group's current cutoff,
    * boundary ties included. Groups with no merged mass have no floor
    * (inner join drops them); before any merge the view is empty. */
  def curated(docs: DataFrame): DataFrame = {
    ensureAdopted(docs.sparkSession)
    val cs = publishedCutoffs
    if (cs.isEmpty) docs.limit(0)
    else {
      val spark = docs.sparkSession
      import spark.implicits._
      // match on the group key's STRING form explicitly (the cutoff map
      // is string-keyed — see cutoffsOf); without the cast, Spark's
      // implicit equi-join coercion between a non-string group column
      // and the string cutoff key picks its own common type
      val cdf = cs.toSeq.toDF("__group_key", "cutoff")
      docs.join(broadcast(cdf),
          docs(groupCol).cast("string") === cdf("__group_key"))
        .filter(col("quality_bp") >= col("cutoff"))
        .drop("cutoff", "__group_key")
    }
  }
}

/** Streaming twin of the per-group BUCKET split (canonically CCNet's
  * per-language head/middle/tail perplexity thirds —
  * [[graft.packs.PipelineOps.ccnetBucketsBody]]): the same persisted
  * (group, quality_bp, c) histogram as [[GroupedQualityFloorStore]],
  * but the publish step recomputes ONE cutoff per `fracs` entry per
  * group (all from the one histogram, the shared
  * [[TextAnalysis.cutoffsFromGroupedHistogram]] arithmetic) and the
  * read-time view assigns a LABEL instead of a keep verdict:
  * `labels(i)` for the first cutoff the doc clears, `labels.last`
  * otherwise — boundary ties fall into the better bucket, exactly the
  * batch rule. `keyBp` is pluggable like the global store's (the CCNet
  * wiring passes the negated-millinat LM key). State stays bounded by
  * |groups| · value-domain rows; cutoff-lag semantics are the floor
  * stores', per group — and because labels are assigned at READ time,
  * a doc's bucket is retroactively corpus-relative: later mass can
  * re-bucket earlier docs, exactly like the batch form re-run on the
  * grown corpus. */
final class GroupedBucketStore(fracs: Seq[Double], labels: Seq[String],
    val groupCol: String, dir: String, keyBp: Column => Column)
    extends ReplayGuarded {

  def this(fracs: Seq[Double], labels: Seq[String], groupCol: String,
      keyBp: Column => Column) =
    this(fracs, labels, groupCol,
      Files.createTempDirectory("graft-gbucket-store").toString, keyBp)

  require(fracs.nonEmpty && fracs == fracs.sorted &&
    fracs.forall(f => f > 0 && f < 1),
    s"fracs must be ascending in (0, 1), got $fracs")
  require(labels.size == fracs.size + 1,
    s"need one label per frac plus the remainder, got $labels")

  private val store = new VersionedParquetStore(dir)
  // per-frac, group(string form, see GroupedQualityFloorStore) → cutoff
  @volatile private var publishedCuts: Seq[Map[String, Long]] = Seq.empty
  @volatile private var adoptionPending: Boolean = store.current.nonEmpty

  private def cutsOf(spark: SparkSession): Seq[Map[String, Long]] = {
    val h = histogram(spark).seamCheckpoint() // bounded; feeds every frac
    fracs.map(f =>
      TextAnalysis.cutoffsFromGroupedHistogram(h, groupCol, f)
        .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap)
  }

  private def ensureAdopted(spark: SparkSession): Unit =
    if (adoptionPending) synchronized {
      if (adoptionPending) {
        publishedCuts = cutsOf(spark)
        adoptionPending = false
      }
    }

  /** Current merged histogram: (group, quality_bp, c). */
  def histogram(spark: SparkSession): DataFrame = store.current match {
    case None =>
      import spark.implicits._
      Seq.empty[(String, Long, Long)].toDF(groupCol, "quality_bp", "c")
    case Some(d) => spark.read.parquet(d)
  }

  /** The pinned scoring expression — re-exported so wiring can't
    * drift from the histogram it merges into. */
  def qualityBp(text: Column): Column = keyBp(text)

  /** Merge one micro-batch's scored rows (group column + quality_bp)
    * and publish the updated per-group cutoff ladder. Synchronized
    * end-to-end: histogram version and cutoffs advance together. */
  def merge(batchScored: DataFrame,
      batchId: Long = VersionedParquetStore.NoBatchId): Unit = synchronized {
    val spark = batchScored.sparkSession
    ensureAdopted(spark)
    val batchHist = batchScored.select(col(groupCol), col("quality_bp"))
      .groupBy(col(groupCol), col("quality_bp")).agg(count(lit(1)).as("c"))
    val applied = store.publish(batchId) { nextDir =>
      histogram(spark).unionByName(batchHist)
        .groupBy(col(groupCol), col("quality_bp"))
        .agg(sum(col("c")).cast("long").as("c"))
        .write.mode(SaveMode.Overwrite).parquet(nextDir)
    }
    if (applied) publishedCuts = cutsOf(spark)
  }

  /** True when `batchId` was already merged. */
  def isReplay(batchId: Long): Boolean = store.isReplay(batchId)

  /** The published cutoff ladders, one map per frac; empty before the
    * first non-empty merge. */
  def cutsBp: Seq[Map[String, Long]] = {
    if (adoptionPending) ensureAdopted(SparkSession.active)
    publishedCuts
  }

  /** Read-time bucketed view of accumulated docs (group column +
    * quality_bp): adds a `bucket` label column. Groups with no merged
    * mass are dropped (no corpus, no split — the floor stores' rule);
    * before any merge the view is empty. */
  def bucketed(docs: DataFrame): DataFrame = {
    ensureAdopted(docs.sparkSession)
    val cuts = publishedCuts
    if (cuts.isEmpty || cuts.head.isEmpty) docs.limit(0).withColumn("bucket", lit(""))
    else {
      val spark = docs.sparkSession
      // every frac yields the same group set (cum always reaches n ≥
      // ceil(n·frac)), so indexing the tail maps by head keys is total
      val rows = cuts.head.keySet.toSeq.map { g =>
        org.apache.spark.sql.Row.fromSeq(g +: cuts.map(_(g)))
      }
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("__group_key",
          org.apache.spark.sql.types.StringType, nullable = false) +:
        fracs.indices.map(i => org.apache.spark.sql.types.StructField(
          s"__cut_$i", org.apache.spark.sql.types.LongType, nullable = false)))
      val cdf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      val label = fracs.indices.foldRight(lit(labels.last): Column) {
        (i, rest) => when(col("quality_bp") >= col(s"__cut_$i"),
          lit(labels(i))).otherwise(rest)
      }
      docs.join(broadcast(cdf),
          docs(groupCol).cast("string") === cdf("__group_key"))
        .withColumn("bucket", label)
        .drop("__group_key" +: fracs.indices.map(i => s"__cut_$i"): _*)
    }
  }
}
