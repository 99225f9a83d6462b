package graft.packs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.operators.Dedup

/** Dedup queries over the documents table. Every GATED name is fully
  * DuckDB-oracle-backed: the MinHash/SimHash gates run the md5-keyed
  * pipelines (DuckDB reproduces md5 exactly), so the whole composition —
  * signatures, banding, bucket caps, verification — is one cross-engine
  * value gate. The engine-native xxhash64 forms (same pipeline, faster
  * 64-bit hash DuckDB can't reproduce) stay registered as [[benchOnly]]
  * twins: timed by Bench, plan-pinned in PlanSpec, value-gated by
  * planted-near-dup assertions in DedupSpec and by the hash-agnostic
  * tail they share with the oracle-verified md5 forms.
  */
object DedupOps extends QueryPack {

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, sfDir), "doc_id", "text")

  /** Exact dedup over NORMALIZED text — casefold/punctuation/
    * whitespace variants of the same content collapse to one hash (the
    * fuzzy-exact pass that runs before the banding machinery; a
    * reformatted copy never reaches the quadratic candidate paths).
    * Same plan shape as dedup_exact: one scan-side normalize+hash
    * projection, one partial-agg groupBy. */
  def dedupExactNormalized(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exact(
      Tables.documents(spark, sfDir).withColumn("norm_text",
        graft.operators.TextAnalysis.normalizeText(col("text"))),
      "doc_id", "norm_text")

  /** Per-source duplication audit: docs contributed vs docs that would
    * drop under GLOBAL exact dedup — the drop-rate dashboard that
    * flags mirror/aggregator sources. */
  def dedupRateBySource(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.duplicationBy(Tables.documents(spark, sfDir),
      "doc_id", "text", "source")

  /** Near-dup drop attribution per source — [[dedupRateBySource]]'s
    * sibling over the content-robust LSH pair source: which sources
    * contribute NEAR-duplicate (not just byte-identical) mass. A doc
    * counts as dropped when it is not its cluster's canonical (min
    * id) — exactly `dedup_components_lsh`'s keep rule, so the audit
    * can never disagree with the dedup it reports on. */
  def neardupRateBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val clusters = Dedup.nearDupClustersFromPairs(docs, "doc_id",
      Dedup.minhashLshMd5(docs, "doc_id", "text"),
      trustedPairs = true)
    docs.select(col("source"), col("doc_id"))
      .join(clusters.select(col("doc_id"), col("keep")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_neardup_dropped"))
  }

  def dedupNgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.blockedNgramJaccard(Tables.documents(spark, sfDir), "doc_id", "text")
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))

  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.minhashLsh(Tables.documents(spark, sfDir), "doc_id", "text")
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))

  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, sfDir), "doc_id", "text")

  def dedupMinhashMd5(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.minhashLshMd5(Tables.documents(spark, sfDir), "doc_id", "text")
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))

  def dedupSimhashMd5(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashMd5Pairs(Tables.documents(spark, sfDir), "doc_id", "text")

  def dedupComponents(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.nearDupClusters(Tables.documents(spark, sfDir), "doc_id", "text")

  /** Clustering over the content-robust MinHash-LSH pair source (md5
    * twin, so the WHOLE composition — signatures, banding, bucket cap,
    * verification, components — is one cross-engine value gate). This
    * is the pair source that catches near-dups whose openings differ,
    * the prefix blocker's documented blind spot. */
  def dedupComponentsLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Dedup.nearDupClustersFromPairs(docs, "doc_id",
      Dedup.minhashLshMd5(docs, "doc_id", "text"),
      trustedPairs = true)
  }

  /** Cluster-size histogram over the LSH near-dup components — the
    * dedup REPORT a capacity/savings review reads: how many clusters
    * exist at each size and how many docs a canonical-keep policy
    * frees (size − 1 per cluster). Bounded output (≤ distinct sizes);
    * two partial aggs over the component labels. */
  def dedupClusterStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val clusters = Dedup.nearDupClustersFromPairs(docs, "doc_id",
      Dedup.minhashLshMd5(docs, "doc_id", "text"),
      trustedPairs = true)
    clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size") - 1).as("n_docs_droppable"))
  }

  /** Soft dedup over the LSH pair source: every doc kept at weight
    * 1/cluster_size ([[graft.operators.Dedup.softDedupWeights]]). */
  def dedupSoftWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Dedup.softDedupWeights(docs, "doc_id",
      Dedup.minhashLshMd5(docs, "doc_id", "text"))
  }

  /** Quality-weighted canonical selection over the LSH clusters: the
    * same md5-twin pair source and components as [[dedupComponentsLsh]],
    * but keep = the highest-quality member per cluster (tie → min id)
    * instead of min-id — composed under ONE oracle with the shared
    * quality expression. */
  def dedupKeepQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val clusters = Dedup.nearDupClustersFromPairs(docs, "doc_id",
      Dedup.minhashLshMd5(docs, "doc_id", "text"),
      trustedPairs = true)
    val withQuality = clusters.select(col("doc_id"), col("cluster_id"))
      .join(docs.select(col("doc_id"),
        graft.operators.TextAnalysis.qualityExpr(col("text")).as("quality")),
        Seq("doc_id"))
    Dedup.keepByQuality(withQuality)
  }

  /** Ingest-time dedup gate: deterministic batch/corpus split of the
    * documents table (doc_id % 5 picks the "new batch"; the rest is
    * the "already-ingested corpus") — the split constant is shared
    * with the generated oracle SQL below. */
  val IncrementalBatchMod = 5

  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Dedup.incrementalExact(
      docs.filter(col("doc_id") % IncrementalBatchMod === 0),
      docs.filter(col("doc_id") % IncrementalBatchMod =!= 0),
      "doc_id", "text")
  }

  /** Ingest-time NEAR-dup gate (md5 twin): the batch-merge MinHash form
    * — the new batch's bands probed against the corpus view. The oracle
    * is the full self-dedup pair oracle filtered to pairs touching the
    * batch: the probe topology must emit exactly that set. */
  def dedupIncrementalMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Dedup.incrementalMinhashLshMd5(
      docs.filter(col("doc_id") % IncrementalBatchMod === 0),
      docs.filter(col("doc_id") % IncrementalBatchMod =!= 0),
      "doc_id", "text")
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
  }

  /** Ingest-time SimHash near-dup gate (md5 twin): the batch-merge
    * probe form over the same batch/corpus split; the oracle is the
    * full simhash self-dedup oracle filtered to pairs touching the
    * batch — the probe topology must emit exactly that set. */
  def dedupIncrementalSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Dedup.incrementalSimhashMd5(
      docs.filter(col("doc_id") % IncrementalBatchMod === 0),
      docs.filter(col("doc_id") % IncrementalBatchMod =!= 0),
      "doc_id", "text")
  }

  // One bloom sketch per dataset per JVM — it is the corpus-snapshot
  // artifact a real pipeline builds once and probes per batch (the
  // BandStore pattern); rebuilding it per bench pass would time the
  // build, not the probe. Same immutable-dataset assumption as
  // IvfIndex.trainCached.
  private val seenBlooms = new java.util.concurrent.ConcurrentHashMap[
    String, Option[org.apache.spark.util.sketch.BloomFilter]]()

  /** Bloom-gated ingest dedup: same split, same EXACT output as
    * dedup_incremental (the filter only routes; false positives die in
    * the confirm join) — under the identical oracle — but the seen
    * corpus is scanned, never shuffled. */
  def dedupIncrementalBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % IncrementalBatchMod === 0)
    val seen = docs.filter(col("doc_id") % IncrementalBatchMod =!= 0)
    // None = zero non-null seen hashes: the bloom aggregation yields no
    // sketch over zero rows, so the sketchless guarded form (which
    // returns the batch firsts directly) handles that split instead
    val bloom = seenBlooms.computeIfAbsent(sfDir, _ => {
      val hashes = seen.select(md5(col("text")).as("text_hash"))
        .filter(col("text_hash").isNotNull)
      val n = hashes.count()
      if (n == 0) None else Some(hashes.stat.bloomFilter("text_hash", n, 0.01))
    })
    bloom match {
      case Some(b) =>
        Dedup.incrementalExactBloomWith(batch, seen, b, "doc_id", "text")
      case None =>
        Dedup.incrementalExactBloom(batch, seen, "doc_id", "text")
    }
  }

  // One persisted sharded bloom store per dataset per JVM — the
  // maintained seen-hash artifact (BloomStore), ingested once, probed
  // per execution. Ingested in TWO batches deliberately: the query
  // exercises the incremental mergeInPlace path, not a from-scratch
  // build (BloomStoreSpec pins the two forms bit-identical).
  private val bloomStores = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.BloomStore]()

  /** Store-backed bloom-gated ingest dedup: same split, same EXACT
    * output as dedup_incremental under the IDENTICAL oracle, but the
    * gate probes the PERSISTED incrementally-merged sharded sketch —
    * no per-snapshot corpus aggregation anywhere in the query. */
  def dedupIncrementalBloomStore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % IncrementalBatchMod === 0)
    val seen = docs.filter(col("doc_id") % IncrementalBatchMod =!= 0)
    val store = bloomStores.computeIfAbsent(sfDir, _ => {
      val hashes = seen.select(md5(col("text")).as("text_hash"))
        .filter(col("text_hash").isNotNull)
      val n = math.max(1L, hashes.count())
      val s = new graft.operators.BloomStore(
        java.nio.file.Files.createTempDirectory("graft-bloom-store-im").toString,
        expectedItems = n)
      s.merge(hashes.filter(col("text_hash") < lit("8")), "text_hash")
      s.merge(hashes.filter(col("text_hash") >= lit("8")), "text_hash")
      s
    })
    Dedup.incrementalExactBloomFromStore(batch, seen, store, "doc_id", "text")
  }

  // One persisted band store per dataset per JVM: verify/bench execute
  // each registered query several times, and the store is the
  // ingest-time artifact the probe form exists to amortize — build it
  // once, probe it per execution. Same immutable-dataset-per-JVM
  // assumption as IvfIndex.trainCached; the table name carries the
  // dataset hash so different SF dirs in one JVM get distinct tables.
  private val bandStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.BandStore]()

  /** Store-backed incremental near-dup: the seen corpus's PERSISTED
    * band table ([[graft.operators.BandStore]]) is probed instead of
    * recomputing seen-side signatures — the 100 TB form of
    * dedup_incremental_minhash, under the IDENTICAL oracle (the probe
    * must emit exactly the same pair set). The probe never runs a
    * signature stage over the seen side (BandStoreSpec pins that plan). */
  def dedupIncrementalMinhashStore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % IncrementalBatchMod === 0)
    val seen = docs.filter(col("doc_id") % IncrementalBatchMod =!= 0)
    val store = bandStores.computeIfAbsent(sfDir, dir => {
      val s = new graft.operators.BandStore(
        s"graft_band_store_im_${graft.QueryPack.storeSuffix(dir)}")
      s.merge(Dedup.md5Bands(seen, "doc_id", "text"))
      s
    })
    Dedup.incrementalMinhashLshMd5FromStore(
      batch, store.table(spark),
      Dedup.shingleTable(seen, "doc_id", "text"),
      "doc_id", "text")
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
  }

  private val simhashStores = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.SimhashStore]()

  /** Store-backed incremental SimHash near-dup: the seen corpus's
    * PERSISTED banded-fingerprint table ([[graft.operators.SimhashStore]])
    * is probed instead of re-fingerprinting the seen side — the 100 TB
    * form of dedup_incremental_simhash, under the IDENTICAL oracle.
    * The probe runs zero fingerprint work over the seen side
    * (SimhashStoreSpec pins that plan). */
  def dedupIncrementalSimhashStore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % IncrementalBatchMod === 0)
    val seen = docs.filter(col("doc_id") % IncrementalBatchMod =!= 0)
    val store = simhashStores.computeIfAbsent(sfDir, dir => {
      val s = new graft.operators.SimhashStore(
        s"graft_simhash_store_im_${graft.QueryPack.storeSuffix(dir)}")
      s.merge(Dedup.md5SimhashBands(seen, "doc_id", "text"))
      s
    })
    Dedup.incrementalSimhashMd5FromStore(batch, store.table(spark),
      "doc_id", "text")
  }

  /** Token-level repeated-substring spans over the whole corpus —
    * [[graft.operators.Dedup.duplicateSpans]] at the shared k. */
  def dedupSubstringSpans(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.duplicateSpans(Tables.documents(spark, sfDir), "doc_id", "text")

  /** Incremental span detection: the batch's duplicated spans against
    * seen ∪ batch WITHOUT re-windowing the seen corpus per batch-doc
    * consumer — output must equal full-corpus [[dedupSubstringSpans]]
    * restricted to batch ids (the oracle IS that restriction). */
  def dedupIncrementalSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % IncrementalBatchMod === 0)
    val seen = docs.filter(col("doc_id") % IncrementalBatchMod =!= 0)
    Dedup.incrementalDuplicateSpansFrom(batch,
      Dedup.spanGrams(seen, "doc_id", "text"), "doc_id", "text")
  }

  /** The ingest-loop rewrite as a gated query: the batch's docs with
    * every span duplicated against seen ∪ batch stripped
    * ([[graft.operators.Dedup.stripSpans]] over the incremental
    * detector's spans) — what [[graft.streaming.StreamingPipelines.spanIngestBatch]]
    * emits per trigger, value-gated against the full-corpus strip
    * restricted to batch ids. */
  def dedupIncrementalStrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % IncrementalBatchMod === 0)
    val seen = docs.filter(col("doc_id") % IncrementalBatchMod =!= 0)
    Dedup.stripSpans(batch,
      Dedup.incrementalDuplicateSpansFrom(batch,
        Dedup.spanGrams(seen, "doc_id", "text"), "doc_id", "text"),
      "doc_id", "text", fan = false) // probe-sized batch by contract
  }

  private val gramStores = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.GramStore]()

  /** Store-backed incremental span detection: the seen corpus's
    * PERSISTED (doc_id, gram) table ([[graft.operators.GramStore]]) is
    * probed instead of re-windowing the seen side — the 100 TB form of
    * [[dedupIncrementalSpans]], under the IDENTICAL oracle. The probe
    * runs zero window/hash work over the seen side
    * (IncrementalSpanSpec pins that plan). */
  def dedupIncrementalSpansStore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % IncrementalBatchMod === 0)
    val seen = docs.filter(col("doc_id") % IncrementalBatchMod =!= 0)
    val store = gramStores.computeIfAbsent(sfDir, dir => {
      val s = new graft.operators.GramStore(
        s"graft_gram_store_im_${graft.QueryPack.storeSuffix(dir)}")
      s.ingest(seen, "doc_id", "text")
      s
    })
    store.probe(batch, "doc_id", "text")
  }

  /** The transform twin: documents rewritten with duplicated spans
    * removed — [[graft.operators.Dedup.stripDuplicateSpans]]. */
  def dedupStripSpans(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.stripDuplicateSpans(Tables.documents(spark, sfDir), "doc_id", "text")

  /** Paragraph-granular dedup verdicts (CCNet stage 1) over window
    * units — one keeper per normalized unit key, lexicographic-min
    * (doc_id, par_idx), computed by partial-agg argmin (never a per-key
    * window). */
  def paragraphDedup(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Paragraphs.verdictsOfUnits(
      graft.operators.Paragraphs.unitsByWindow(
        Tables.documents(spark, sfDir), "doc_id", "text"))
      .select(col("doc_id"), col("par_idx"), col("par_key"), col("keep"))

  /** The transform twin: per-doc text reassembled from kept units —
    * repeated boilerplate vanishes, host documents survive (contrast
    * dedup_exact, which can only drop whole docs). */
  def paragraphScrub(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Paragraphs.scrubByWindow(
      Tables.documents(spark, sfDir), "doc_id", "text")

  /** Jaccard sweep for the near-dup threshold ablation. 0.8 (the gate
    * default) sits mid-sweep so both directions are exercised. */
  val SweepThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** The threshold-ablation row behind picking [[Dedup.NgramThreshold]]:
    * verified pair count and distinct-duplicated-doc count at each
    * sweep threshold, from ONE candidate generation + ONE exact-Jaccard
    * verification pass (threshold 0 keeps every verified candidate;
    * the 5-row threshold table broadcast-joins on `jac >= t`). The
    * curve measures pairs AMONG LSH CANDIDATES at ≥ t — candidate
    * recall is the banding's, tuned for the 0.8 regime (below it the
    * curve is a lower bound, exactly what a production sweep over one
    * candidate set reports); the oracle enumerates the identical
    * candidates, so the gate is exact. */
  def dedupThresholdCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // The final plan consumes the pair relation three times (n_pairs
    // agg + both sides of the dup-doc union) and Catalyst has no
    // cross-branch CSE, so the banding pipeline executes 3× per run —
    // and that is the FASTER shape here, measured, not assumed: a
    // localCheckpoint(false) on `pairs` was tried (r15) and reverted
    // (r16) after an interleaved same-host A/B showed the triple
    // recompute at 0.9–1.1 s warm vs 2.1–2.5 s checkpointed (sf0.1,
    // medians of iters 2–5, two rounds each side; no ReusedExchange in
    // either plan — PlanProbe). The banding subtree is scan-parallel
    // and each branch AQE-optimizes independently; the checkpoint's
    // materialization barrier + block re-reads cost more than the
    // redundant work it saves. Contrast nearDupClustersFromPairs,
    // where the SAME idiom wins: there the duplicated subtree feeds a
    // persist() materialization inside an iterative loop, not three
    // one-shot aggregates.
    val pairs = Dedup.minhashLshMd5(docs, "doc_id", "text", threshold = 0.0)
    val th = SweepThresholds.toDF("threshold")
    val tp = pairs.join(broadcast(th), col("jac") >= col("threshold"))
    val np = tp.groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
    val nd = tp.select(col("threshold"), col("doc_a").as("d"))
      .union(tp.select(col("threshold"), col("doc_b").as("d"))).distinct()
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_dup_docs"))
    th.join(np, Seq("threshold"), "left").join(nd, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
  }

  /** Per-source paragraph-boilerplate audit — [[paragraphDedup]]'s
    * verdicts rolled up by source ([[dedupRateBySource]]'s shape at
    * UNIT granularity): which sources ship repeated units, and how
    * much of their unit mass the scrub reclaims. One broadcast join of
    * the bounded (doc → source) map onto the verdicts, two partial
    * aggs. */
  def paragraphRateBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    graft.operators.Paragraphs.verdictsOfUnits(
        graft.operators.Paragraphs.unitsByWindow(docs, "doc_id", "text"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_units"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped_units"),
        round(sum(when(!col("keep"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 4).as("dropped_frac"))
  }

  /** Memorization-risk datacard row: per-doc fraction of k-gram types
    * shared with no other document ([[graft.operators.Dedup.ngramNovelty]]
    * at the shared span k). */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.ngramNovelty(Tables.documents(spark, sfDir), "doc_id", "text")

  /** Ordered two-batch split for the store-backed paragraph scrub: ids
    * below the threshold are "already ingested". An ORDERED split (not
    * the % mod routing above) because keep-first equivalence to the
    * one-shot scrub needs batch order consistent with the
    * lexicographic keep rule — see [[graft.operators.ParagraphStore]]'s
    * equivalence contract. Constant across SFs (250 < every corpus's
    * doc count). */
  val ParagraphSplitId = 250L

  private val paragraphStores = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.ParagraphStore]()

  /** Store-backed incremental paragraph scrub: batch 0 scrubs
    * self-contained, batch 1 probes batch 0's PERSISTED
    * (doc_id, par_key) table instead of re-hashing the seen corpus —
    * the 100 TB ingest form, under the IDENTICAL one-shot oracle (the
    * ordered-split equivalence argument). */
  def paragraphScrubStore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val batch0 = docs.filter(col("doc_id") < ParagraphSplitId)
    val batch1 = docs.filter(col("doc_id") >= ParagraphSplitId)
    val store = paragraphStores.computeIfAbsent(sfDir, dir => {
      val s = new graft.operators.ParagraphStore(
        s"graft_par_store_${graft.QueryPack.storeSuffix(dir)}")
      s.ingest(batch0, "doc_id", "text")
      s
    })
    graft.operators.Paragraphs.scrubByWindow(batch0, "doc_id", "text")
      .unionByName(store.scrubProbe(batch1, "doc_id", "text"))
  }

  /** Winnowing fingerprint sketch (Schleimer/Wilkerson/Aiken SIGMOD'03)
    * of every document: the selected (pos, gram) rows — ~2/(w+1) the
    * density of full k-gram shingling, with the ≥ k+w−1-token match
    * guarantee. */
  def fingerprintWinnow(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.winnowFingerprints(Tables.documents(spark, sfDir), "doc_id", "text")

  /** MOSS-style near-dup candidates from shared winnowing fingerprints:
    * pairs sharing ≥ [[Dedup.WinnowMinShared]] selected hashes, hot
    * (boilerplate) fingerprints capped out before pairing. */
  def dedupWinnow(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.winnowPairs(Tables.documents(spark, sfDir), "doc_id", "text")

  /** Cross-detector agreement datacard: every near-dup pair any of the
    * three content-robust detectors (MinHash-LSH, SimHash, winnowing)
    * emits, bucketed by WHICH combination found it — the method-
    * comparison row a dedup-policy review reads (a pair only winnowing
    * sees is a partial overlap; only simhash, a token-multiset
    * rewrite; all three, a safe drop). Bounded output (≤ 7 combos).
    * Scale shape: three spec'd capped pair pipelines, one union, two
    * partial aggs on pair keys. */
  def dedupAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tagged = Seq(
      Dedup.minhashLshMd5(docs, "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), lit("minhash").as("m")),
      Dedup.simhashMd5Pairs(docs, "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), lit("simhash").as("m")),
      Dedup.winnowPairs(docs, "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), lit("winnow").as("m"))
    ).reduce(_ unionByName _)
    tagged.groupBy(col("doc_a"), col("doc_b"))
      .agg(concat_ws("+", sort_array(collect_set(col("m")))).as("methods"))
      .groupBy(col("methods"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Cross-split leakage audit — the eval-hygiene datacard row: every
    * near-dup pair (the content-robust md5-twin LSH source) bucketed
    * by WHICH split pair its endpoints land in, canonicalized
    * lexicographically. Off-diagonal rows (train↔valid, train↔test,
    * valid↔test) are LEAKAGE: a near-duplicate of a training document
    * sitting in an eval split inflates eval scores — the failure mode
    * split-then-dedup pipelines exist to prevent (dedup-then-split is
    * the fix; this row measures how much a given ordering leaked).
    * Bounded ≤ 6-row output; one id-keyed join per endpoint + a
    * partial agg over the pair set. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val splits = graft.operators.TextAnalysis.splitAssign(docs, "doc_id",
      TextOps.SplitTrainBp, TextOps.SplitValidBp)
    Dedup.minhashLshMd5(docs, "doc_id", "text")
      .select(col("doc_a"), col("doc_b"))
      .join(splits.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), Seq("doc_b"))
      .groupBy(least(col("split_a"), col("split_b")).as("split_lo"),
        greatest(col("split_a"), col("split_b")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Connected components over the WINNOW pair source — clustering
    * composed with the partial-overlap detector: docs sharing a long
    * passage cluster together even when whole-document Jaccard is
    * diluted (the LSH families' blind spot, winnowing's beat). Same
    * vertex-seeded label loop as every other component query. */
  def dedupComponentsWinnow(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Dedup.nearDupClustersFromPairs(docs, "doc_id",
      Dedup.winnowPairs(docs, "doc_id", "text"),
      trustedPairs = true)
  }

  /** Edit-distance-verified near-dups over the capped SimHash
    * candidates, ASCII scope ([[Dedup.editDistancePairs]]) — the
    * character-positional precision verifier. */
  def dedupEditDistance(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.editDistancePairs(Tables.documents(spark, sfDir), "doc_id", "text")

  /** Incremental winnow probe (recompute form): a NEW batch's shared-
    * fingerprint pairs against the seen corpus — output ≡ full-corpus
    * winnow pairs restricted to pairs touching the batch (selection is
    * doc-local, the cap counts the full view). */
  def dedupWinnowIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Dedup.incrementalWinnowPairs(
      docs.filter(col("doc_id") % IncrementalBatchMod === 0),
      docs.filter(col("doc_id") % IncrementalBatchMod =!= 0),
      "doc_id", "text")
  }

  // One persisted winnow-fingerprint store per dataset per JVM — the
  // same amortize-the-ingest-artifact convention as bandStores.
  private val winnowStores = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.WinnowStore]()

  /** Store-backed incremental winnow probe: the seen corpus's
    * PERSISTED selected-fingerprint table is probed instead of
    * re-winnowing the seen side — identical oracle to the recompute
    * form, zero drift allowed. */
  def dedupWinnowIncrementalStore(spark: SparkSession,
      sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % IncrementalBatchMod === 0)
    val seen = docs.filter(col("doc_id") % IncrementalBatchMod =!= 0)
    val store = winnowStores.computeIfAbsent(sfDir, dir => {
      val s = new graft.operators.WinnowStore(
        s"graft_winnow_store_${graft.QueryPack.storeSuffix(dir)}")
      s.ingest(seen, "doc_id", "text")
      s
    })
    store.probe(batch, "doc_id", "text")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (dedupExact _),
    "dedup_exact_normalized" -> (dedupExactNormalized _),
    "dedup_rate_by_source" -> (dedupRateBySource _),
    "neardup_rate_by_source" -> (neardupRateBySource _),
    "dedup_substring_spans" -> (dedupSubstringSpans _),
    "dedup_strip_spans" -> (dedupStripSpans _),
    "dedup_incremental_spans" -> (dedupIncrementalSpans _),
    "dedup_incremental_spans_store" -> (dedupIncrementalSpansStore _),
    "dedup_incremental_strip" -> (dedupIncrementalStrip _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_incremental_bloom" -> (dedupIncrementalBloom _),
    "dedup_incremental_bloom_store" -> (dedupIncrementalBloomStore _),
    "dedup_incremental_minhash" -> (dedupIncrementalMinhash _),
    "dedup_incremental_minhash_store" -> (dedupIncrementalMinhashStore _),
    "dedup_incremental_simhash" -> (dedupIncrementalSimhash _),
    "dedup_incremental_simhash_store" -> (dedupIncrementalSimhashStore _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_minhash" -> (dedupMinhashMd5 _),
    "dedup_simhash" -> (dedupSimhashMd5 _),
    "dedup_components" -> (dedupComponents _),
    "dedup_components_lsh" -> (dedupComponentsLsh _),
    "dedup_soft_weights" -> (dedupSoftWeights _),
    "dedup_keep_quality" -> (dedupKeepQuality _),
    "paragraph_dedup" -> (paragraphDedup _),
    "paragraph_scrub" -> (paragraphScrub _),
    "paragraph_scrub_store" -> (paragraphScrubStore _),
    "ngram_novelty" -> (ngramNovelty _),
    "dedup_threshold_curve" -> (dedupThresholdCurve _),
    "dedup_cluster_stats" -> (dedupClusterStats _),
    "paragraph_rate_by_source" -> (paragraphRateBySource _),
    "fingerprint_winnow" -> (fingerprintWinnow _),
    "dedup_winnow" -> (dedupWinnow _),
    "dedup_winnow_incremental" -> (dedupWinnowIncremental _),
    "dedup_winnow_incremental_store" -> (dedupWinnowIncrementalStore _),
    "dedup_editdistance" -> (dedupEditDistance _),
    "dedup_components_winnow" -> (dedupComponentsWinnow _),
    "dedup_agreement" -> (dedupAgreement _),
    "split_leakage" -> (splitLeakage _)
  )

  /** Engine-native xxhash64 LSH forms: identical pipeline to the gated
    * md5 twins downstream of the hash, kept on the bench clock (and
    * plan-pinned) because xxhash64 is the hash a production run would
    * use — md5 exists for the cross-engine gate, not for speed. */
  override def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_xxh64" -> (dedupMinhash _),
    "dedup_simhash_xxh64" -> (dedupSimhash _),
    "dedup_winnow_xxh64" -> ((s: SparkSession, dir: String) =>
      Dedup.winnowPairsXxh64(Tables.documents(s, dir), "doc_id", "text"))
  )

  /** Shared CTEs: blocked shingle pairs with exact Jaccard over `src`
    * — the base of the ngram oracle, the sql_dedup_ngram twin, the
    * clustering oracle, AND the composed pipeline oracle
    * (PipelineOps), so none of them can drift. */
  private[packs] def ngramPairCtesFrom(src: String): String =
    s"""t AS (
        |  SELECT doc_id, substr(text, 1, 40) AS blk,
        |         list_transform(generate_series(1, len(toks) - 2),
        |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS sh
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM $src)
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
        |              ELSE CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE)
        |                   / len(list_distinct(a.sh || b.sh)) END AS jac
        |  FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |)""".stripMargin

  private val ngramPairCtes: String = ngramPairCtesFrom("documents")

  /** Min-label components over `pairs`/`src` as CTE text (requires the
    * query to open WITH RECURSIVE): every id labeled with the minimum
    * reachable id — shared by the clustering and pipeline oracles.
    * `threshold` must be the SAME value the Spark-side pair source ran
    * with (a hardcoded default here would silently drift from a
    * non-default caller). */
  private[packs] def componentCtes(src: String, threshold: Double): String =
    s"""edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE jac >= $threshold
        |  UNION
        |  SELECT doc_b AS src, doc_a AS dst FROM pairs WHERE jac >= $threshold
        |),
        |reach(v, lbl) AS (
        |  SELECT doc_id, doc_id FROM $src
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.v = e.src
        |),
        |cc AS (SELECT v, min(lbl) AS cluster_id FROM reach GROUP BY v)""".stripMargin

  /** Shared with sql_dedup_ngram (SqlSurfaceOps): the SQL-function twin
    * verifies against the SAME oracle string, so the two surfaces can't
    * silently diverge. */
  val ngramJaccardOracle: String =
    s"""WITH $ngramPairCtes
        |SELECT doc_a, doc_b, round(jac, 4) AS jac
        |FROM pairs WHERE jac >= ${Dedup.NgramThreshold}""".stripMargin

  /** Shared CTEs of both substring-span oracles: identical windows
    * (split on single space, k consecutive tokens, md5 of the
    * space-joined window), identical duplicate rule (count > 1 over the
    * corpus), identical gaps-and-islands merge — position arithmetic is
    * integer-exact in both engines, so the compares are value-exact. */
  private[packs] def substringSpanCtesFrom(src: String, k: Int): String =
    s"""toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM $src
        |),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         md5(array_to_string(list_slice(t, i, i + $k - 1), ' ')) AS gram
        |  FROM toks, unnest(range(1, len(t) - $k + 2)) AS u(i)
        |  WHERE len(t) >= $k
        |),
        |dupg AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) > 1),
        |marked AS (SELECT g.doc_id, g.pos FROM grams g JOIN dupg USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    SUM(CASE WHEN prev IS NULL OR pos - prev > $k THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM (SELECT doc_id, pos,
        |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |        FROM marked)
        |),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start,
        |         max(pos) + $k - min(pos) AS span_tokens
        |  FROM isl GROUP BY doc_id, island
        |)""".stripMargin

  /** DuckDB twin of [[graft.operators.Dedup.duplicateSpans]]. */
  val substringSpansOracle: String =
    s"""WITH ${substringSpanCtesFrom("documents", Dedup.DupSpanTokens)}
        |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
        |       CAST(span_tokens AS BIGINT) AS span_tokens
        |FROM spans""".stripMargin

  /** DuckDB twin of BOTH incremental span forms: the FULL-corpus span
    * detection restricted to batch ids — that restriction is the
    * incremental operator's entire contract. */
  val incrementalSpansOracle: String =
    s"""WITH ${substringSpanCtesFrom("documents", Dedup.DupSpanTokens)}
        |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
        |       CAST(span_tokens AS BIGINT) AS span_tokens
        |FROM spans WHERE doc_id % $IncrementalBatchMod = 0""".stripMargin

  /** Span CTEs + per-token covered-by-any-span verdicts (`markedt`):
    * the shared detect→mark fragment of the strip oracle and the
    * composed pipeline oracle (PipelineOps.pipeline_curate_strip) —
    * callers add their own kept-token rebuild on top. */
  private[packs] def spanMarkCtesFrom(src: String, k: Int): String =
    s"""${substringSpanCtesFrom(src, k)},
        |toks2 AS (
        |  SELECT doc_id, i - 1 AS pos, t[i] AS tok
        |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
        |),
        |markedt AS (
        |  SELECT t2.doc_id, t2.pos, any_value(t2.tok) AS tok,
        |    max(CASE WHEN s.span_start IS NOT NULL
        |          AND t2.pos >= s.span_start
        |          AND t2.pos < s.span_start + s.span_tokens
        |        THEN 1 ELSE 0 END) AS dropped
        |  FROM toks2 t2 LEFT JOIN spans s ON t2.doc_id = s.doc_id
        |  GROUP BY t2.doc_id, t2.pos
        |)""".stripMargin

  /** DuckDB twin of [[graft.operators.Dedup.stripDuplicateSpans]]: the
    * SAME span CTEs, then per-token covered-by-any-span verdicts and an
    * order-preserving rebuild of the kept tokens. */
  val stripSpansOracle: String =
    s"""WITH ${spanMarkCtesFrom("documents", Dedup.DupSpanTokens)}
        |SELECT doc_id,
        |  coalesce(string_agg(tok, ' ' ORDER BY pos)
        |    FILTER (WHERE dropped = 0), '') AS clean_text,
        |  CAST(sum(dropped) AS BIGINT) AS n_dropped
        |FROM markedt GROUP BY doc_id""".stripMargin

  /** Shared winnowing CTEs (DuckDB twin of
    * [[graft.operators.Dedup.winnowFingerprints]]): identical grams
    * (single-space split, k tokens, md5 of the space-joined window),
    * identical per-doc w-frame minimum, identical rightmost-tie
    * selection (the join back to gram rows of the window, max pos per
    * window end), identical short-doc rule (one whole-doc window).
    * The oracle joins ends→grams on the raw range predicate — at
    * sf0.01 correctness scale the Spark side's bucketed form and this
    * are the same relation. */
  private[packs] def winnowFpCtesFrom(src: String, k: Int, w: Int): String =
    s"""wtoks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM $src
        |),
        |wgrams AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         md5(array_to_string(list_slice(t, i, i + $k - 1), ' ')) AS gram
        |  FROM wtoks, unnest(range(1, len(t) - $k + 2)) AS u(i)
        |  WHERE len(t) >= $k
        |),
        |wends AS (
        |  SELECT doc_id, pos AS epos, wmin FROM (
        |    SELECT doc_id, pos,
        |      min(gram) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS wmin,
        |      count(*) OVER (PARTITION BY doc_id) AS n
        |    FROM wgrams)
        |  WHERE pos >= ${w - 1} OR pos = n - 1
        |),
        |wfp AS (
        |  SELECT DISTINCT doc_id, pos, gram FROM (
        |    SELECT e.doc_id, e.epos, e.wmin AS gram, max(g.pos) AS pos
        |    FROM wends e JOIN wgrams g
        |      ON g.doc_id = e.doc_id
        |     AND g.pos BETWEEN e.epos - ${w - 1} AND e.epos
        |     AND g.gram = e.wmin
        |    GROUP BY e.doc_id, e.epos, e.wmin)
        |)""".stripMargin

  /** The winnow CTEs extended through the MOSS pairing: fingerprint
    * TYPES per doc, hot cap, canonicalized shared-hash count ≥ the
    * floor — ends at `wpairs(doc_a, doc_b, n_shared)`, shared by the
    * self, incremental, and store-probe gates so none can drift. */
  private[packs] def winnowPairCtesFrom(src: String): String =
    s"""${winnowFpCtesFrom(src, Dedup.WinnowGramTokens, Dedup.WinnowWindow)},
        |wtypes AS (SELECT DISTINCT doc_id, gram FROM wfp),
        |whot AS (SELECT gram FROM wtypes GROUP BY gram
        |         HAVING count(*) > ${Dedup.WinnowMaxDocsPerGram}),
        |wcold AS (SELECT doc_id, gram FROM wtypes
        |          WHERE gram NOT IN (SELECT gram FROM whot)),
        |wpairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         count(*)::BIGINT AS n_shared
        |  FROM wcold a JOIN wcold b
        |    ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING count(*) >= ${Dedup.WinnowMinShared})""".stripMargin

  /** DuckDB twin of [[graft.operators.Dedup.nearDupClusters]]: true
    * connected components by recursive reachable-label enumeration —
    * min reachable id == the component-least label Spark's
    * large-star/small-star loop reaches at its fixpoint. */
  val componentsOracle: String =
    s"""WITH RECURSIVE $ngramPairCtes,
        |${componentCtes("documents", Dedup.NgramThreshold)}
        |SELECT v AS doc_id, cluster_id, (v = cluster_id) AS keep
        |FROM cc""".stripMargin

  /** DuckDB twin of [[dedupComponentsLsh]]: the md5-twin MinHash-LSH
    * pair CTEs composed with the recursive-components CTEs — clustering
    * value-gated over the content-robust pair source. */
  val componentsLshOracle: String =
    s"""WITH RECURSIVE ${minhashMd5PairCtesFrom("documents")},
        |${componentCtes("documents", Dedup.NgramThreshold)}
        |SELECT v AS doc_id, cluster_id, (v = cluster_id) AS keep
        |FROM cc""".stripMargin

  /** DuckDB twin of [[dedupKeepQuality]]: LSH pairs + components + the
    * SHARED quality expression (TextOps.qualityExprSql), argmax per
    * cluster with min-id tie-break. Quality is rounded to 4 decimals in
    * BOTH engines before the max/equality, so no float boundary can
    * flip the winner. */
  val keepQualityOracle: String =
    s"""WITH RECURSIVE ${minhashMd5PairCtesFrom("documents")},
        |${componentCtes("documents", Dedup.NgramThreshold)},
        |q AS (SELECT doc_id, ${TextOps.qualityExprSql} AS quality FROM documents),
        |j AS (SELECT cc.v AS doc_id, cc.cluster_id, q.quality
        |      FROM cc JOIN q ON cc.v = q.doc_id),
        |b AS (SELECT cluster_id, max(quality) AS best_q FROM j GROUP BY cluster_id),
        |k AS (SELECT j.cluster_id, min(j.doc_id) AS best_id
        |      FROM j JOIN b ON j.cluster_id = b.cluster_id AND j.quality = b.best_q
        |      GROUP BY j.cluster_id)
        |SELECT j.doc_id, j.cluster_id, j.quality, (j.doc_id = k.best_id) AS keep
        |FROM j JOIN k ON j.cluster_id = k.cluster_id""".stripMargin

  /** DuckDB twin of [[graft.operators.Dedup.md5h60]]: 60-bit int from
    * the first 15 hex chars of md5 — bit-identical to Spark's
    * conv(substring(md5(x),1,15),16,10)::long. */
  private def duckMd5h60(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** md5-twin MinHash-LSH pair CTEs over `src` (ends in a `pairs` CTE
    * with doc_a/doc_b/jac — the same contract as [[ngramPairCtesFrom]],
    * so [[componentCtes]] composes over either pair source): shingle →
    * k md5 minima → band keys → bucket cap → candidate join →
    * exact-Jaccard, interpolated from the SAME constants as the Spark
    * side (Dedup.Md5Twin* / Ngram*) so the two engines can't drift. Two
    * signatures per digest (hex chars 1-15 / 17-31), mirroring the
    * Spark projection. */
  private[packs] def minhashMd5PairCtesFrom(src: String): String = {
    import Dedup.{Md5TwinBands, Md5TwinRows, NgramMaxBlockSize}
    val k = Md5TwinBands * Md5TwinRows
    val sigCols = (0 until k).map { j =>
      val off = 1 + (j % 2) * 16
      s"list_min(list_transform(sh, s -> ('0x' || substr(md5('${j / 2}#' || s), $off, 15))::BIGINT)) AS sig$j"
    }.mkString(",\n        ")
    val bandSelects = (0 until Md5TwinBands).map { b =>
      val key = (0 until Md5TwinRows).map(r => s"sig${b * Md5TwinRows + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $key) AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""shd AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
       |             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS sh
       |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $src)
       |  ) WHERE len(sh) > 0
       |), sig AS (
       |  SELECT doc_id,
       |        $sigCols
       |  FROM shd
       |), banded AS (
       |  $bandSelects
       |), capped AS (
       |  SELECT doc_id, band, band_key FROM (
       |    SELECT banded.*, count(*) OVER (PARTITION BY band, band_key) AS bn
       |    FROM banded
       |  ) WHERE bn <= $NgramMaxBlockSize
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |), pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |         CASE WHEN len(list_distinct(x.sh || y.sh)) = 0 THEN 0.0
       |              ELSE CAST(len(list_distinct(list_intersect(x.sh, y.sh))) AS DOUBLE)
       |                   / len(list_distinct(x.sh || y.sh)) END AS jac
       |  FROM cand c JOIN shd x ON c.doc_a = x.doc_id JOIN shd y ON c.doc_b = y.doc_id
       |)""".stripMargin
  }

  /** Generated oracle for dedup_minhash (md5-keyed gate) — the pair CTEs plus the
    * threshold filter/rounding the registered query applies. */
  val minhashMd5Oracle: String =
    s"""WITH ${minhashMd5PairCtesFrom("documents")}
       |SELECT doc_a, doc_b, round(jac, 4) AS jac
       |FROM pairs WHERE jac >= ${Dedup.NgramThreshold}""".stripMargin

  /** md5-twin SimHash pair CTEs over `src` (ends in a `pairs` CTE with
    * doc_a/doc_b/hamming): token-occurrence bit votes over the 60-bit
    * md5 hash, vote>0 sets the bit, 4×15-bit pigeonhole bands, bucket
    * cap, exact bit_count(xor) — every constant interpolated from the
    * SAME Dedup.* knobs the Spark side runs with (incl.
    * SimhashMaxBucketSize, counted over the full corpus view exactly
    * like simhashBandPairsFrom's partial-agg count), shared by the
    * self-dedup and incremental-probe oracles. */
  private[packs] def simhashMd5PairCtesFrom(src: String): String = {
    import Dedup.{Md5SimhashBandBits, Md5SimhashBits, SimhashMaxBucketSize}
    val nBands = Md5SimhashBits / Md5SimhashBandBits
    val mask = (1L << Md5SimhashBandBits) - 1
    s"""tok AS (
       |  SELECT doc_id, ${duckMd5h60("tok")} AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $src)
       |), votes AS (
       |  SELECT doc_id, j,
       |         sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM tok CROSS JOIN (SELECT unnest(generate_series(0, ${Md5SimhashBits - 1})) AS j) js
       |  GROUP BY doc_id, j
       |), fp AS (
       |  SELECT doc_id,
       |         sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS simhash
       |  FROM votes GROUP BY doc_id
       |), sbanded AS (
       |  SELECT doc_id, simhash, b AS band, (simhash >> (b * $Md5SimhashBandBits)) & $mask AS band_val
       |  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, ${nBands - 1})) AS b) bs
       |), scapped AS (
       |  SELECT doc_id, simhash, band, band_val FROM (
       |    SELECT sbanded.*, count(*) OVER (PARTITION BY band, band_val) AS bn
       |    FROM sbanded
       |  ) WHERE bn <= $SimhashMaxBucketSize
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         bit_count(xor(a.simhash, b.simhash))::INT AS hamming
       |  FROM scapped a JOIN scapped b
       |    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  /** Generated oracle for dedup_simhash (md5-keyed gate) — same constants as
    * Dedup.simhashMd5Pairs. */
  val simhashMd5Oracle: String =
    s"""WITH ${simhashMd5PairCtesFrom("documents")}
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= ${Dedup.Md5SimhashMaxHamming}""".stripMargin

  /** Shared by dedup_incremental and its bloom-gated twin. */
  private val incrementalExactOracle: String =
    s"""WITH b AS (
       |  SELECT doc_id, md5(text) AS text_hash FROM documents
       |  WHERE doc_id % $IncrementalBatchMod = 0
       |), firsts AS (
       |  SELECT text_hash, min(doc_id) AS doc_id FROM b GROUP BY text_hash
       |)
       |SELECT f.text_hash, f.doc_id FROM firsts f
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM documents s
       |  WHERE s.doc_id % $IncrementalBatchMod <> 0
       |    AND md5(s.text) = f.text_hash)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    // identical shape over the normalized text (shared pattern
    // literals with TextAnalysis.normalizeText)
    "dedup_exact_normalized" ->
      s"""SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
         |         '${graft.operators.TextAnalysis.NormPunctPattern}', ' ', 'g'),
         |         '${graft.operators.TextAnalysis.NormSpacePattern}', ' ', 'g'))) AS text_hash,
         |       min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin,

    // DuckDB sum() over ints is HUGEINT — cast to BIGINT to match the
    // Spark long
    "dedup_rate_by_source" ->
      """WITH k AS (SELECT source, doc_id, md5(text) AS text_hash
        |           FROM documents),
        |f AS (SELECT text_hash, min(doc_id) AS keep_id
        |      FROM k GROUP BY text_hash)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped
        |FROM k JOIN f USING (text_hash) GROUP BY source""".stripMargin,

    // the LSH-pair/components fragments shared with
    // dedup_components_lsh, rolled up per source — same keep rule, so
    // the audit cannot drift from the dedup it reports on
    "neardup_rate_by_source" ->
      s"""WITH RECURSIVE ${minhashMd5PairCtesFrom("documents")},
         |${componentCtes("documents", Dedup.NgramThreshold)}
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN cc.v <> cc.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_neardup_dropped
         |FROM documents d JOIN cc ON d.doc_id = cc.v
         |GROUP BY d.source""".stripMargin,

    "dedup_incremental" -> incrementalExactOracle,

    // the bloom gate is ROUTING only — false positives die in the
    // confirm join, false negatives don't exist — so the output must be
    // exactly the anti-join form's: identical oracle, zero drift allowed
    "dedup_incremental_bloom" -> incrementalExactOracle,
    // ... and the persisted sharded-store gate changes nothing about
    // that contract: same oracle, zero drift
    "dedup_incremental_bloom_store" -> incrementalExactOracle,

    // incremental probe ≡ full self-dedup restricted to pairs touching
    // the batch — the same generated pair CTEs, one extra predicate
    "dedup_incremental_minhash" ->
      s"""WITH ${minhashMd5PairCtesFrom("documents")}
         |SELECT doc_a, doc_b, round(jac, 4) AS jac
         |FROM pairs
         |WHERE jac >= ${Dedup.NgramThreshold}
         |  AND (doc_a % $IncrementalBatchMod = 0
         |       OR doc_b % $IncrementalBatchMod = 0)""".stripMargin,

    // the store-backed probe must emit EXACTLY the same pair set as the
    // recompute form — identical oracle, zero drift allowed
    "dedup_incremental_minhash_store" ->
      s"""WITH ${minhashMd5PairCtesFrom("documents")}
         |SELECT doc_a, doc_b, round(jac, 4) AS jac
         |FROM pairs
         |WHERE jac >= ${Dedup.NgramThreshold}
         |  AND (doc_a % $IncrementalBatchMod = 0
         |       OR doc_b % $IncrementalBatchMod = 0)""".stripMargin,

    // simhash probe ≡ full simhash self-dedup restricted to pairs
    // touching the batch (fingerprints are per-doc, so banding and the
    // full-view bucket count are identical between the two runs)
    "dedup_incremental_simhash" ->
      s"""WITH ${simhashMd5PairCtesFrom("documents")}
         |SELECT doc_a, doc_b, hamming
         |FROM pairs
         |WHERE hamming <= ${Dedup.Md5SimhashMaxHamming}
         |  AND (doc_a % $IncrementalBatchMod = 0
         |       OR doc_b % $IncrementalBatchMod = 0)""".stripMargin,

    // the store-backed probe must emit EXACTLY the same pair set as the
    // recompute form — identical oracle, zero drift allowed
    "dedup_incremental_simhash_store" ->
      s"""WITH ${simhashMd5PairCtesFrom("documents")}
         |SELECT doc_a, doc_b, hamming
         |FROM pairs
         |WHERE hamming <= ${Dedup.Md5SimhashMaxHamming}
         |  AND (doc_a % $IncrementalBatchMod = 0
         |       OR doc_b % $IncrementalBatchMod = 0)""".stripMargin,

    "dedup_ngram_jaccard" -> ngramJaccardOracle,
    "dedup_substring_spans" -> substringSpansOracle,

    // winnowing sketch: shared CTEs end at the selected-fingerprint
    // relation, the query is just its projection
    "fingerprint_winnow" ->
      s"""WITH ${winnowFpCtesFrom("documents",
             Dedup.WinnowGramTokens, Dedup.WinnowWindow)}
          |SELECT doc_id, CAST(pos AS BIGINT) AS pos, gram FROM wfp""".stripMargin,

    // MOSS-style pairing over the SAME selected-fingerprint relation:
    // distinct hash types per doc, hot-hash cap, pair count ≥ floor
    "dedup_winnow" ->
      s"""WITH ${winnowPairCtesFrom("documents")}
          |SELECT doc_a, doc_b, n_shared FROM wpairs""".stripMargin,

    // incremental probe ≡ full self-pairing restricted to pairs
    // touching the batch (winnow selection is doc-local; the hot cap
    // counts the full view) — the SAME generated CTEs, one predicate;
    // the store-backed probe shares it verbatim (zero-drift gate)
    "dedup_winnow_incremental" ->
      s"""WITH ${winnowPairCtesFrom("documents")}
          |SELECT doc_a, doc_b, n_shared FROM wpairs
          |WHERE doc_a % $IncrementalBatchMod = 0
          |   OR doc_b % $IncrementalBatchMod = 0""".stripMargin,
    "dedup_winnow_incremental_store" ->
      s"""WITH ${winnowPairCtesFrom("documents")}
          |SELECT doc_a, doc_b, n_shared FROM wpairs
          |WHERE doc_a % $IncrementalBatchMod = 0
          |   OR doc_b % $IncrementalBatchMod = 0""".stripMargin,

    // cross-split leakage: the SAME generated minhash pair CTEs joined
    // to the split_assign hash rule (shared basis-point constants),
    // split pairs canonicalized lexicographically — least/greatest on
    // VARCHAR are identical in both engines
    "split_leakage" ->
      s"""WITH ${minhashMd5PairCtesFrom("documents")},
          |sp AS (
          |  SELECT doc_id,
          |    CASE WHEN h < ${TextOps.SplitTrainBp} THEN 'train'
          |         WHEN h < ${TextOps.SplitTrainBp + TextOps.SplitValidBp} THEN 'valid'
          |         ELSE 'test' END AS split
          |  FROM (SELECT doc_id,
          |          ('0x' || substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS h
          |        FROM documents)
          |)
          |SELECT least(sa.split, sb.split) AS split_lo,
          |       greatest(sa.split, sb.split) AS split_hi,
          |       count(*)::BIGINT AS n_pairs
          |FROM (SELECT doc_a, doc_b FROM pairs
          |      WHERE jac >= ${Dedup.NgramThreshold}) p
          |JOIN sp sa ON sa.doc_id = p.doc_a
          |JOIN sp sb ON sb.doc_id = p.doc_b
          |GROUP BY least(sa.split, sb.split), greatest(sa.split, sb.split)""".stripMargin,

    // cross-detector agreement: each detector's FULL standalone oracle
    // nested as a CTE body (the gopher_verdict composition pattern —
    // DuckDB scopes subquery-local WITHs), so the combo counts can't
    // drift from the three gates they bucket
    "dedup_agreement" ->
      s"""WITH mh AS (
          |$minhashMd5Oracle
          |), sh AS (
          |$simhashMd5Oracle
          |), wn AS (
          |WITH ${winnowPairCtesFrom("documents")}
          |SELECT doc_a, doc_b FROM wpairs
          |), tagged AS (
          |  SELECT doc_a, doc_b, 'minhash' AS m FROM mh
          |  UNION ALL
          |  SELECT doc_a, doc_b, 'simhash' AS m FROM sh
          |  UNION ALL
          |  SELECT doc_a, doc_b, 'winnow' AS m FROM wn
          |), combo AS (
          |  SELECT doc_a, doc_b,
          |    string_agg(m, '+' ORDER BY m) AS methods
          |  FROM tagged GROUP BY doc_a, doc_b
          |)
          |SELECT methods, count(*)::BIGINT AS n_pairs
          |FROM combo GROUP BY methods""".stripMargin,

    // components over the winnow pair relation: the SAME generated
    // winnow CTEs feeding the shared recursive-components CTEs (the
    // componentCtes contract expects a `pairs(doc_a, doc_b, jac)`
    // relation — wpairs is pre-filtered, so every pair qualifies at
    // threshold 1.0 with jac = n_shared)
    "dedup_components_winnow" ->
      s"""WITH RECURSIVE ${winnowPairCtesFrom("documents")},
          |pairs AS (SELECT doc_a, doc_b, CAST(n_shared AS DOUBLE) AS jac
          |          FROM wpairs),
          |${componentCtes("documents", 1.0)}
          |SELECT v AS doc_id, cluster_id, (v = cluster_id) AS keep
          |FROM cc""".stripMargin,

    // the SAME generated simhash pair CTEs over the ASCII view (where
    // byte- and codepoint-Levenshtein coincide), integer ratio math
    "dedup_editdistance" ->
      s"""WITH adocs AS (
          |  SELECT * FROM documents WHERE regexp_matches(text, '^[ -~]*$$')
          |), ${simhashMd5PairCtesFrom("adocs")},
          |ed AS (
          |  SELECT p.doc_a, p.doc_b,
          |    levenshtein(da.text, db.text)::BIGINT AS edit_dist,
          |    greatest(length(da.text), length(db.text), 1)::BIGINT AS max_len
          |  FROM pairs p
          |  JOIN adocs da ON da.doc_id = p.doc_a
          |  JOIN adocs db ON db.doc_id = p.doc_b
          |  WHERE p.hamming <= ${Dedup.Md5SimhashMaxHamming}
          |)
          |SELECT doc_a, doc_b, edit_dist,
          |  (edit_dist * 10000) // max_len AS edit_ratio_bp
          |FROM ed
          |WHERE (edit_dist * 10000) // max_len <= ${Dedup.EditMaxRatioBp}""".stripMargin,
    "dedup_strip_spans" -> stripSpansOracle,
    // the incremental forms must emit exactly the full-corpus spans
    // restricted to batch docs — the oracle IS that restriction; the
    // store-backed probe shares it verbatim (zero-drift gate)
    "dedup_incremental_spans" -> incrementalSpansOracle,
    "dedup_incremental_spans_store" -> incrementalSpansOracle,
    // full-corpus detect+mark, rewrite restricted to batch docs — the
    // incremental strip must equal exactly that
    "dedup_incremental_strip" ->
      s"""WITH ${spanMarkCtesFrom("documents", Dedup.DupSpanTokens)}
          |SELECT doc_id,
          |  coalesce(string_agg(tok, ' ' ORDER BY pos)
          |    FILTER (WHERE dropped = 0), '') AS clean_text,
          |  CAST(sum(dropped) AS BIGINT) AS n_dropped
          |FROM markedt WHERE doc_id % $IncrementalBatchMod = 0
          |GROUP BY doc_id""".stripMargin,
    "dedup_minhash" -> minhashMd5Oracle,
    "dedup_simhash" -> simhashMd5Oracle,
    "dedup_components" -> componentsOracle,
    "dedup_components_lsh" -> componentsLshOracle,
    // soft weights: cluster sizes over the same recursive components,
    // single rounded division
    "dedup_soft_weights" ->
      s"""WITH RECURSIVE ${minhashMd5PairCtesFrom("documents")},
          |${componentCtes("documents", Dedup.NgramThreshold)}
          |SELECT v AS doc_id, cluster_id,
          |       round(1::DOUBLE / s.n, 4) AS weight
          |FROM cc JOIN (SELECT cluster_id, count(*)::BIGINT AS n
          |              FROM cc GROUP BY cluster_id) s USING (cluster_id)""".stripMargin,
    "dedup_keep_quality" -> keepQualityOracle,

    "paragraph_dedup" ->
      s"WITH $paragraphCtes\nSELECT doc_id, par_idx, par_key, keep FROM v",

    "paragraph_scrub" -> paragraphScrubSql,

    // IDENTICAL one-shot oracle: the ordered split (batch 0 = ids below
    // the threshold) makes the store-probed union equal the one-shot
    // scrub — see ParagraphStore's equivalence contract
    "paragraph_scrub_store" -> paragraphScrubSql,

    // gram window shared with substringSpanCtesFrom; sharing is
    // DISTINCT-doc count (within-doc repeats are repetition, not
    // memorization)
    "ngram_novelty" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |), grams AS (
         |  SELECT doc_id,
         |    md5(array_to_string(list_slice(t, i, i + ${Dedup.DupSpanTokens - 1}), ' ')) AS gram
         |  FROM toks, unnest(range(1, len(t) - ${Dedup.DupSpanTokens} + 2)) AS u(i)
         |  WHERE len(t) >= ${Dedup.DupSpanTokens}
         |), dg AS (
         |  SELECT DISTINCT doc_id, gram FROM grams
         |), gd AS (
         |  SELECT gram, count(*)::BIGINT AS nd FROM dg GROUP BY gram
         |)
         |SELECT dg.doc_id, count(*)::BIGINT AS n_gram_types,
         |  CAST(sum(CASE WHEN gd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shared_types,
         |  round(CAST(count(*) - sum(CASE WHEN gd.nd > 1 THEN 1 ELSE 0 END)
         |      AS DOUBLE) / count(*), 4) AS novelty_frac
         |FROM dg JOIN gd USING (gram) GROUP BY dg.doc_id""".stripMargin,

    // the verdict CTEs shared verbatim with paragraph_dedup, rolled up
    // through the (doc -> source) map
    "paragraph_rate_by_source" ->
      s"""WITH $paragraphCtes
         |SELECT d.source, count(*)::BIGINT AS n_units,
         |  CAST(sum(CASE WHEN NOT v.keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped_units,
         |  round(CAST(sum(CASE WHEN NOT v.keep THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 4) AS dropped_frac
         |FROM v JOIN documents d USING (doc_id)
         |GROUP BY d.source""".stripMargin,

    // size histogram over the SAME component labels as the cluster
    // queries — the report shares their CTEs so it can't drift
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE ${minhashMd5PairCtesFrom("documents")},
         |${componentCtes("documents", Dedup.NgramThreshold)},
         |cs AS (
         |  SELECT cluster_id, count(*)::BIGINT AS cluster_size
         |  FROM cc GROUP BY 1
         |)
         |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
         |  CAST(sum(cluster_size - 1) AS BIGINT) AS n_docs_droppable
         |FROM cs GROUP BY 1""".stripMargin,

    // the identical candidate set (the threshold-free pairs CTE), swept
    // by the broadcast threshold table — rows emitted for EVERY sweep
    // point, zero-filled where no candidate clears it
    "dedup_threshold_curve" -> {
      val values = SweepThresholds.map(t => s"($t)").mkString(", ")
      s"""WITH ${minhashMd5PairCtesFrom("documents")},
         |th(threshold) AS (VALUES $values),
         |tp AS (
         |  SELECT th.threshold, p.doc_a, p.doc_b
         |  FROM pairs p JOIN th ON p.jac >= th.threshold
         |), np AS (
         |  SELECT threshold, count(*)::BIGINT AS n_pairs FROM tp GROUP BY 1
         |), nd AS (
         |  SELECT threshold, count(*)::BIGINT AS n_dup_docs FROM (
         |    SELECT DISTINCT threshold, d FROM (
         |      SELECT threshold, doc_a AS d FROM tp
         |      UNION ALL SELECT threshold, doc_b FROM tp)
         |  ) GROUP BY 1
         |)
         |SELECT th.threshold,
         |  coalesce(np.n_pairs, 0) AS n_pairs,
         |  coalesce(nd.n_dup_docs, 0) AS n_dup_docs
         |FROM th LEFT JOIN np USING (threshold)
         |        LEFT JOIN nd USING (threshold)""".stripMargin
    }
  )

  /** Window-unit CTEs alone — toks + u(doc_id, par_idx, par), the
    * delimiter-free unit table (units at
    * [[graft.operators.Paragraphs.WindowTokens]]) shared by the
    * paragraph-dedup chain below and the C4 line-rule oracle
    * (TextOps). */
  private[packs] def windowUnitCtes: String = windowUnitCtesFrom("documents")

  private[packs] def windowUnitCtesFrom(src: String): String = {
    val w = graft.operators.Paragraphs.WindowTokens
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $src),
       |u AS (
       |  SELECT doc_id, CAST((s - 1) // $w AS BIGINT) AS par_idx,
       |    array_to_string(list_slice(tk, CAST(s AS INT),
       |      CAST(least(s + ${w - 1}, len(tk)) AS INT)), ' ') AS par
       |  FROM toks, unnest(range(1, greatest(len(tk), 1) + 1, $w)) AS u(s)
       |)""".stripMargin
  }

  /** Shared CTE chain for the paragraph family: window units,
    * normalized md5h60 keys (pattern literals shared with
    * TextAnalysis.normalizeText), two-step lexicographic argmin (min
    * doc, then min idx within it — equals Spark's min(struct)). */
  private[packs] def paragraphCtes: String = paragraphCtesFrom("documents")

  private[packs] def paragraphCtesFrom(src: String): String = {
    s"""${windowUnitCtesFrom(src)}, k AS (
       |  SELECT doc_id, par_idx, par,
       |    ('0x' || substr(md5(trim(regexp_replace(regexp_replace(lower(par),
       |       '${graft.operators.TextAnalysis.NormPunctPattern}', ' ', 'g'),
       |       '${graft.operators.TextAnalysis.NormSpacePattern}', ' ', 'g'))),
       |       1, 15))::BIGINT AS par_key
       |  FROM u
       |), fd AS (SELECT par_key, min(doc_id) AS kd FROM k GROUP BY par_key),
       |fp AS (SELECT k.par_key, fd.kd, min(k.par_idx) AS kp
       |       FROM k JOIN fd ON k.par_key = fd.par_key AND k.doc_id = fd.kd
       |       GROUP BY k.par_key, fd.kd),
       |v AS (SELECT k.doc_id, k.par_idx, k.par, k.par_key,
       |        (k.doc_id = fp.kd AND k.par_idx = fp.kp) AS keep
       |      FROM k JOIN fp ON k.par_key = fp.par_key)""".stripMargin
  }

  private def paragraphScrubSql: String =
    s"""WITH $paragraphCtes
       |SELECT d.doc_id, coalesce(g.clean_text, '') AS clean_text,
       |       coalesce(g.n_kept, 0) AS n_kept,
       |       coalesce(g.n_dropped, 0) AS n_dropped
       |FROM documents d LEFT JOIN (
       |  SELECT doc_id,
       |    string_agg(CASE WHEN keep THEN par END, ' ' ORDER BY par_idx)
       |      AS clean_text,
       |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dropped
       |  FROM v GROUP BY doc_id) g USING (doc_id)""".stripMargin
}
