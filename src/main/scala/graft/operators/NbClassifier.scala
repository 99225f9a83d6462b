package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NbScorer

/** Trained quality classifier over hashed bag-of-words features — the
  * supervised model the cheap-heuristic trio is a stand-in for
  * (the seam [[TextAnalysis.qualityExpr]]'s scaladoc names): multinomial
  * Naive Bayes log-odds (the standard linear text-classification
  * baseline — Wang & Manning, "Baselines and Bigrams", ACL 2012; the
  * fastText shape, Joulin et al. 2016) over md5h60-hashed unigram
  * buckets (feature hashing, Weinberger et al. ICML 2009).
  *
  * Training labels are DERIVED, not annotated: documents whose
  * heuristic quality score clears [[PosMin]] are positives, those under
  * [[NegMax]] negatives, the ambiguous middle is dropped — the
  * classic bootstrap from a weak labeler to a generalizing model (the
  * trained weights score stopword-bearing fluent text above keyboard
  * mash even where the heuristic trio is indifferent).
  *
  * Why no bounded draw (unlike [[IvfIndex]]/[[BpeTokenizer]]): NB's
  * sufficient statistics are BOUNDED BY CONSTRUCTION — whatever the
  * corpus size, training reduces to ≤ 2·dim (label, bucket, count)
  * rows plus two doc-count rows, produced scan-side with map-side
  * partial aggregation. Training on ALL labeled documents is therefore
  * 100 TB-clean with no sampling step, and the statistics are ADDITIVE
  * over batches (the [[DsirStore]] mergeable-aggregate property), which
  * is what makes the persisted form ([[NbStore]]) a trivial count
  * store: summed partials from any batch split derive the IDENTICAL
  * model to one-shot training.
  *
  * Determinism & oracle parity: counts are exact integers both
  * engines; the driver turns them into weights with `Math.log` ONCE
  * and ships integer-SCALED log-odds ([[Scale]]), so per-document raw
  * scores are exact integer sums and the single IEEE division happens
  * on identical operands in Spark and DuckDB (`ln` never crosses an
  * engine boundary — the trained weights embed in the generated oracle
  * via the [[BpeTokenizer.trainedSnapshot]] pattern). Inference is the
  * one-pass scan-side native expression [[graft.functions.NbScoreRaw]].
  */
object NbClassifier {

  /** Hashed feature buckets. Small enough that the oracle's VALUES
    * table stays readable; production would raise it (fastText default
    * 2M buckets) — nothing downstream depends on the size. */
  val Dim = 512

  /** Heuristic-label thresholds on the rounded [0,1] quality score:
    * ~top quartile positive, ~bottom quartile negative at every tested
    * scale (the corpus quality distribution is scale-stable). */
  val PosMin = 0.55
  val NegMax = 0.46

  /** Fixed-point scale for log-odds weights: 1e-6 resolution, far
    * below any decision boundary of interest, and raw scores stay
    * exact in a BIGINT (|w| ≲ 2e7 × tokens-per-doc). */
  val Scale = 1000000L

  /** Doc-count sentinel bucket in the sufficient-statistics relation
    * (real buckets are 0..dim-1). */
  val DocCountBucket = -1L

  /** Trained model: per-bucket integer-scaled log-odds (Vector for
    * structural equality — [[trainedSnapshot]] dedups on it), the
    * scaled class-prior bias, and the weight untouched buckets carry
    * (what the oracle's COALESCE falls back to). */
  final case class Model(dim: Int, weights: Vector[Long],
      biasScaled: Long, defaultScaled: Long) {
    def scorer: NbScorer = new NbScorer(dim, weights.toArray)
    /** Buckets whose weight differs from the default — the oracle's
      * VALUES rows. */
    def nonDefault: Seq[(Int, Long)] =
      weights.zipWithIndex.collect {
        case (w, b) if w != defaultScaled => (b, w)
      }
  }

  /** 1 / 0 / NULL label from the rounded heuristic quality score. */
  def labelExpr(quality: Column): Column =
    when(quality >= PosMin, lit(1))
      .when(quality <= NegMax, lit(0))
      .otherwise(lit(null).cast("int"))

  /** Sufficient statistics of the labeled corpus:
    * (label, bucket, c) hashed-token counts plus one
    * (label, [[DocCountBucket]], n_docs) row per class. Scan-side
    * label + explode with map-side partial aggregation — ≤ 2·dim + 2
    * rows regardless of corpus size, and bucket-wise ADDITIVE over any
    * batch split of the corpus. */
  def stats(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = Dim): DataFrame =
    statsOf(docs, textCol, dim, bigrams = false)

  /** Each labeled doc explodes its feature buckets plus ONE
    * [[DocCountBucket]] element, so a single (label, bucket) count
    * yields the token counts and the per-class doc counts from one pass
    * over the labeled scan — no union of two aggregations reading the
    * same input (which computes a lazily checkpointed input twice). */
  private def statsOf(docs: DataFrame, textCol: String, dim: Int,
      bigrams: Boolean): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    def bucketOf(salt: String, feat: Column) =
      pmod(Dedup.md5h60(concat(lit(salt), feat)), lit(dim.toLong))
    val uniBuckets = transform(toks, t => bucketOf("clf#", t))
    // unigrams then bigrams in the one bucket array — no second pass
    // over the corpus for the bigrams
    val buckets =
      if (!bigrams) uniBuckets
      else concat(uniBuckets, when(size(toks) >= 2,
        zip_with(slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => bucketOf("clf2#", concat(a, lit(" "), b))))
        .otherwise(array().cast("array<bigint>")))
    docs
      .select(col(textCol).as("text"),
        labelExpr(TextAnalysis.qualityExpr(col(textCol))).as("label"))
      .filter(col("label").isNotNull)
      .select(col("label"),
        explode(concat(array(lit(DocCountBucket)), buckets)).as("bucket"))
      .groupBy(col("label"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .select(col("label").cast("long").as("label"), col("bucket"),
        col("c"))
  }

  /** Derive the model from summed sufficient statistics — a pure
    * function of the counts (the additivity argument [[NbStore]]
    * leans on). Laplace (+1) smoothing over all dim buckets; weights
    * and bias scaled to integers ONCE, here, on the driver. */
  def modelOf(rows: Seq[(Long, Long, Long)], dim: Int = Dim): Model = {
    val posDocs = rows.collect { case (1L, DocCountBucket, c) => c }.sum
    val negDocs = rows.collect { case (0L, DocCountBucket, c) => c }.sum
    require(posDocs > 0 && negDocs > 0,
      s"NB training needs both classes non-empty, got pos=$posDocs neg=$negDocs " +
        s"(thresholds PosMin=$PosMin NegMax=$NegMax)")
    val pos = new Array[Long](dim)
    val neg = new Array[Long](dim)
    rows.foreach {
      case (_, b, _) if b >= dim =>
        // fail with the invariant named, not a bare AIOOBE — the
        // classic cause is a store written under a larger dim reopened
        // with a smaller one
        throw new IllegalArgumentException(
          s"sufficient-statistics bucket $b out of range for dim=$dim " +
            "(store written under a different dim?)")
      case (1L, b, c) if b >= 0 => pos(b.toInt) += c
      case (0L, b, c) if b >= 0 => neg(b.toInt) += c
      case _ => ()
    }
    val tPos = pos.sum
    val tNeg = neg.sum
    def scaled(p: Long, n: Long): Long =
      Math.round(Scale * (Math.log((p + 1).toDouble / (tPos + dim)) -
        Math.log((n + 1).toDouble / (tNeg + dim))))
    val weights = Vector.tabulate(dim)(b => scaled(pos(b), neg(b)))
    Model(dim, weights,
      biasScaled = Math.round(Scale * Math.log(posDocs.toDouble / negDocs)),
      defaultScaled = scaled(0L, 0L))
  }

  /** One-shot training: statistics → collect (≤ 2·dim + 2 rows) →
    * model. */
  def train(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = Dim): Model =
    modelOf(stats(docs, idCol, textCol, dim)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))), dim)

  /** Sufficient statistics over fastText's REAL feature space —
    * hashed unigrams (`clf#` salt) PLUS adjacent word bigrams
    * (`clf2#` salt) in the one shared `dim`-bucket space, so hash
    * collisions are part of the model identically in training and
    * inference. Same ≤ 2·dim + 2 bound (the bucket domain didn't
    * grow), same scan-side shape, same additivity. */
  def statsBigram(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = Dim): DataFrame =
    statsOf(docs, textCol, dim, bigrams = true)

  /** One-shot bigram-feature training — [[modelOf]] is feature-space
    * agnostic (pure counts in, weights out). */
  def trainBigram(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = Dim): Model =
    modelOf(statsBigram(docs, idCol, textCol, dim)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))), dim)

  // One trained model per (dataset, dim) per JVM — verify/bench execute
  // each registered query several times over an immutable dataset key
  // (the IvfIndex.trainCached contract, same caveats).
  private val trained = new ConcurrentHashMap[(String, Int), Model]()

  def trainCached(docs: DataFrame, datasetKey: String, idCol: String,
      textCol: String, dim: Int = Dim): Model =
    trained.computeIfAbsent((datasetKey, dim),
      _ => train(docs, idCol, textCol, dim))

  // bigram-feature twin cache — disjoint from the unigram one (the two
  // feature spaces must never cross-pollinate a snapshot)
  private val trainedBigram = new ConcurrentHashMap[(String, Int), Model]()

  def trainCachedBigram(docs: DataFrame, datasetKey: String, idCol: String,
      textCol: String, dim: Int = Dim): Model =
    trainedBigram.computeIfAbsent((datasetKey, dim),
      _ => trainBigram(docs, idCol, textCol, dim))

  /** [[trainedSnapshot]]'s bigram-feature twin. */
  def trainedSnapshotBigram(dim: Int): Option[Model] = {
    import scala.jdk.CollectionConverters._
    val distinct = trainedBigram.asScala.collect {
      case ((_, d), m) if d == dim => m
    }.toSeq.distinct
    if (distinct.size == 1) Some(distinct.head) else None
  }

  /** The single model trained for `dim` in this JVM, if unambiguous —
    * the oracle-generation hook ([[BpeTokenizer.trainedSnapshot]]
    * pattern): Verify executes every registered query (training the
    * model) BEFORE dumping oracleSql, so the exact weights the engine
    * scored with are embedded in the generated DuckDB SQL. */
  def trainedSnapshot(dim: Int): Option[Model] = {
    import scala.jdk.CollectionConverters._
    val distinct = trained.asScala.collect {
      case ((_, d), m) if d == dim => m
    }.toSeq.distinct
    if (distinct.size == 1) Some(distinct.head) else None
  }

  /** The UNROUNDED scaled log-odds — bias plus the token-weight sum,
    * an exact BIGINT. Every keep gate compares THIS (never the rounded
    * score); one definition so the batch queries and the stream loops
    * cannot drift. */
  def rawScoreExpr(text: Column, m: Model): Column =
    lit(m.biasScaled) + graft.functions.NbScoreRaw(text, m.scorer)

  /** Rounded [−∞,∞) classifier score column: [[rawScoreExpr]] unscaled
    * in ONE division — the only floating-point operation in the whole
    * inference path. */
  def scoreExpr(text: Column, m: Model): Column =
    round(rawScoreExpr(text, m).cast("double") / lit(Scale.toDouble), 4)

  /** [[rawScoreExpr]] under the unigram+bigram feature space — the
    * model must have been trained by [[trainCachedBigram]]. */
  def rawScoreBigramExpr(text: Column, m: Model): Column =
    lit(m.biasScaled) +
      graft.functions.NbBigramScoreRaw(text,
        new graft.functions.NbBigramScorer(m.dim, m.weights.toArray))

  /** Rounded score under the bigram feature space. */
  def scoreBigramExpr(text: Column, m: Model): Column =
    round(rawScoreBigramExpr(text, m).cast("double") / lit(Scale.toDouble), 4)
}
