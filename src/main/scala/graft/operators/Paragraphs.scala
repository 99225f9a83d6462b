package graft.operators

import graft.operators.Materialize.MatOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Paragraph-granular exact deduplication — the curation stage the
  * whole-document dedup family deliberately skips: CCNet's FIRST stage
  * (Wenzek et al. 2020 dedup normalized paragraphs before anything
  * else) and Dolma's paragraph pass drop the repeated unit (cookie
  * banners, navigation, license boilerplate) while KEEPING the host
  * document — whole-doc dedup sees two pages sharing a footer as
  * distinct and ships the footer twice; [[Dedup.duplicateSpans]] finds
  * repeated token runs anywhere but pays gram-window work for it. This
  * family is the cheap structural middle: hash each unit once, keep
  * its globally-first occurrence, reassemble.
  *
  * Unit definition is a parameter, not an assumption: production
  * corpora split on structural delimiters ([[unitsByDelimiter]],
  * newline paragraphs — CCNet's unit); the synthetic corpus has no
  * structure, so the GATED form uses fixed non-overlapping token
  * windows ([[unitsByWindow]] — [[TextAnalysis.chunkDocuments]] with
  * zero overlap, one shared body). Everything downstream of the unit
  * table is unit-agnostic.
  *
  * Keep rule: one keeper per normalized-unit key, the lexicographic
  * minimum (doc_id, par_idx) — deterministic, order-insensitive, and
  * computed as a partial aggregation (min of a struct), never a
  * per-key window. Normalization is [[TextAnalysis.normalizeText]]
  * (lowercase, punctuation→space, space-fold — CCNet normalizes
  * before hashing for exactly the near-boilerplate reason); keys are
  * [[Dedup.md5h60]] so the DuckDB oracle shares the hash verbatim.
  *
  * Scale shape: unit explode is scan-side with bounded amplification
  * (n/w rows per doc); the keeper argmin partial-aggregates map-side
  * before one shuffle on the open key domain; verdicts join back by
  * shuffle merge (keys are open — never broadcast); reassembly is one
  * per-doc regroup with the order-preserving array_sort idiom
  * ([[Dedup.stripSpans]]' tail). Nothing global, nothing driver-side,
  * no windows. */
object Paragraphs {

  /** Window width for delimiter-free corpora. 12 tokens ≈ the CCNet
    * paragraph-length mode on web text; big enough that a window
    * collision means real shared content, small enough that
    * boilerplate shorter than a document reliably tiles into at least
    * one full shared window. */
  val WindowTokens = 12

  /** (doc_id, par_idx, par) from structural delimiters — the
    * production unit. Empty/whitespace units vanish (a blank line is a
    * separator, not a paragraph); par_idx keeps the ORIGINAL split
    * position so reassembly order survives the filter. */
  def unitsByDelimiter(docs: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(delim))))
      .select(col("doc_id"), col("pos").cast("long").as("par_idx"),
        trim(col("col")).as("par"))
      .filter(length(col("par")) > 0)

  /** Window units for corpora without structural delimiters — exactly
    * [[TextAnalysis.chunkDocuments]] with zero overlap (the shared
    * chunk-start rule; the final window may be short). */
  def unitsByWindow(docs: DataFrame, idCol: String, textCol: String,
      w: Int = WindowTokens): DataFrame =
    TextAnalysis.chunkDocuments(docs, idCol, textCol, w, 0)
      .select(col(idCol).as("doc_id"), col("chunk_idx").as("par_idx"),
        col("text").as("par"))

  /** The normalized 60-bit unit key (shared verbatim with the oracle
    * SQL and the store). */
  def parKey(par: Column): Column =
    Dedup.md5h60(TextAnalysis.normalizeText(par))

  /** Verdicts over a unit table (doc_id, par_idx, par): one keeper per
    * key — keep = (doc_id, par_idx) equals the key's lexicographic-min
    * occurrence. Carries the unit text through for [[scrubOfUnits]]. */
  def verdictsOfUnits(units: DataFrame): DataFrame =
    verdictsOfKeyed(units.withColumn("par_key", parKey(col("par"))))

  /** [[verdictsOfUnits]] over an ALREADY-KEYED unit table — the probe
    * path keys once, checkpoints, and feeds both the store lookup and
    * this argmin from the same materialization. */
  private[operators] def verdictsOfKeyed(keyed: DataFrame): DataFrame = {
    val firsts = keyed.groupBy(col("par_key"))
      .agg(min(struct(col("doc_id"), col("par_idx"))).as("first"))
    keyed.join(firsts.hint("merge"), "par_key")
      .select(col("doc_id"), col("par_idx"), col("par"), col("par_key"),
        (col("doc_id") === col("first.doc_id") &&
          col("par_idx") === col("first.par_idx")).as("keep"))
  }

  /** Reassemble per-doc text from kept units, in unit order. Every
    * input document emits a row (a fully-deduplicated doc keeps an
    * empty clean_text — the caller's length floor drops it, the same
    * division of labor as [[Dedup.stripSpans]]). `sep` is the unit
    * joiner: a space for token windows, the structural delimiter for
    * delimiter units. `carry` columns of `docs` pass through. */
  def scrubOfUnits(docs: DataFrame, idCol: String, verdicts: DataFrame,
      sep: String = " ", carry: Seq[String] = Nil): DataFrame = {
    val agg = verdicts.groupBy(col("doc_id"))
      .agg(
        array_join(transform(array_sort(collect_list(
          when(col("keep"), struct(col("par_idx"), col("par"))))),
          x => x("par")), sep).as("clean_text"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"))
    docs.select(col(idCol).cast("long").as("doc_id") +: carry.map(col): _*)
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id") +: carry.map(col) :+
        coalesce(col("clean_text"), lit("")).as("clean_text") :+
        coalesce(col("n_kept"), lit(0L)).as("n_kept") :+
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"): _*)
  }

  /** One-shot window-unit scrub — the gated composition. */
  def scrubByWindow(docs: DataFrame, idCol: String, textCol: String,
      w: Int = WindowTokens): DataFrame =
    scrubOfUnits(docs, idCol,
      verdictsOfUnits(unitsByWindow(docs, idCol, textCol, w)))
}

/** Persisted seen-paragraph state — the serving artifact behind
  * incremental paragraph dedup (the Dolma pattern, exact instead of
  * Bloom: at-scale deployments that accept false positives swap the
  * probe for [[BloomStore]] at this same seam). Stores distinct
  * (doc_id, par_key) pairs bucketed by key; doc_id makes replay
  * exclusion possible ([[GramStore]]'s argument) and doubles as
  * provenance.
  *
  * Equivalence contract: feeding batches in doc_id order (batch N's
  * ids all below batch N+1's) yields per-doc scrub output IDENTICAL to
  * one-shot [[Paragraphs.scrubByWindow]] on the union — a unit's
  * global first occurrence lives in the earliest batch that contains
  * it, and within that batch the local argmin IS the global argmin.
  * The gated store query shares the one-shot oracle verbatim on
  * exactly that argument. */
final class ParagraphStore(name: String, val w: Int = Paragraphs.WindowTokens,
    buckets: Int = 32,
    pointer: graft.streaming.StorePointer = new graft.streaming.InMemoryPointer)
    extends SegmentedBucketedStore(name, "par_key", buckets, pointer) {

  override protected def emptyTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("doc_id", "par_key")
  }

  override protected def normalize(batch: DataFrame): DataFrame = {
    require(batch.schema("par_key").dataType ==
      org.apache.spark.sql.types.LongType,
      s"ParagraphStore stores LONG unit keys, got " +
        s"${batch.schema("par_key").dataType.catalogString}")
    batch.select(col("doc_id").cast("long").as("doc_id"), col("par_key"))
  }

  /** Publish a batch's distinct (doc_id, par_key) pairs under
    * `batchId` (at-least-once replays no-op). */
  def ingest(docs: DataFrame, idCol: String, textCol: String,
      batchId: Long = graft.streaming.VersionedParquetStore.NoBatchId): Unit =
    merge(Paragraphs.unitsByWindow(docs, idCol, textCol, w)
      .select(col("doc_id"),
        Paragraphs.parKey(col("par")).as("par_key")).distinct(), batchId)

  /** Scrub a NEW batch against the stored corpus: keep = within-batch
    * first occurrence AND key unseen by the store. The store side
    * stays a bare scan semi-joined against the BATCH's broadcast keys
    * (batch small, store huge — the [[GramStore.probe]] direction);
    * `excludeBatchIds` restores replay-exactness after the batch's own
    * ingest has merged ([[GramStore]]'s anti-join argument, verbatim).
    * `carry` columns of `batch` pass through to the scrub rows. */
  def scrubProbe(batch: DataFrame, idCol: String, textCol: String,
      excludeBatchIds: Boolean = false,
      carry: Seq[String] = Nil): DataFrame = {
    val spark = batch.sparkSession
    // key the batch's units ONCE and checkpoint: the store lookup and
    // the within-batch argmin both consume this table — without the
    // checkpoint the explode+hash DAG executes twice per probe
    val keyed = Paragraphs
      .unitsByWindow(batch, idCol, textCol, w)
      .withColumn("par_key", Paragraphs.parKey(col("par")))
      .seamCheckpoint(false)
    val local = Paragraphs.verdictsOfKeyed(keyed)
    val seenSide =
      if (!excludeBatchIds) table(spark)
      else table(spark).join(
        broadcast(batch.select(col(idCol).cast("long").as("doc_id"))),
        Seq("doc_id"), "left_anti")
    val seenKeys = seenSide
      .join(broadcast(keyed.select(col("par_key")).distinct()),
        Seq("par_key"), "left_semi")
      .select(col("par_key")).distinct()
    val verdicts = local
      .join(broadcast(seenKeys.withColumn("seen", lit(true))),
        Seq("par_key"), "left")
      .select(col("doc_id"), col("par_idx"), col("par"), col("par_key"),
        (col("keep") && !coalesce(col("seen"), lit(false))).as("keep"))
    Paragraphs.scrubOfUnits(batch, idCol, verdicts, carry = carry)
  }
}
