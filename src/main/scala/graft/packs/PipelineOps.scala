package graft.packs

import graft.operators.Materialize.MatOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.operators.{Dedup, TextAnalysis}

/** End-to-end training-data curation: quality gate → stratified
  * language mixture → near-dup clustering → canonical-doc keep, as ONE
  * registered query — the composition the individual operators exist
  * for, value-gated by a single composed DuckDB oracle whose fragments
  * are the SAME shared SQL strings the per-operator oracles verify
  * (TextOps.qualityExprSql / sampleGateSql, DedupOps.
  * minhashMd5PairCtesFrom / componentCtes), so pipeline and parts
  * can't drift apart.
  *
  * Scale shape: quality + sample are scan-side projections/filters
  * fused into one stage before anything shuffles; only the surviving
  * mixture enters the pair join and component loop — at 100 TB the
  * ordering (cheap gates first, quadratic-candidate machinery last) IS
  * the pipeline design.
  */
object PipelineOps extends QueryPack {

  /** Quality floor, shared with the generated oracle. */
  val QualityMin = 0.5

  def pipelineCurate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // r18: quality as a PROJECTION (the by-lang discipline — a
    // doc_id self-join to recover columns the scan already has is a
    // join for nothing; doc_id is unique so the rows are identical)
    // and the gated mixture materialized ONCE on narrow inputs: the
    // sampled relation feeds the LSH head, the survivor join-back and
    // the singleton anti-join, so each consumer re-ran the regex-heavy
    // gate lineage. At corpus scale the copy is skipped.
    val filtered = docs
      .withColumn("quality", TextAnalysis.qualityExpr(col("text")))
      .filter(col("quality") >= QualityMin)
    val sampledRaw = TextAnalysis.stratifiedSample(filtered, "lang", "doc_id",
      TextOps.SampleRatesBp, TextOps.SampleDefaultBp)
    val sampled =
      if (graft.operators.ScalePolicy.narrow(sampledRaw))
        sampledRaw.seamCheckpoint(false)
      else sampledRaw
    // Content-robust pair source: MinHash-LSH (md5 twin, so the whole
    // composition stays value-gated) instead of prefix blocking, which
    // misses near-dups whose openings differ — exactly the shuffled/
    // boilerplate corpora a curation pipeline exists for.
    val clusters = Dedup.nearDupClustersFromPairs(sampled, "doc_id",
      Dedup.minhashLshMd5(sampled, "doc_id", "text"),
      trustedPairs = true)
    sampled.join(clusters.filter(col("keep")), "doc_id")
      .select(col("doc_id"), col("lang"), col("quality"))
  }

  /** The composition with the per-LANGUAGE RELATIVE floor as its
    * quality gate: each language keeps its own top
    * [[TextOps.QualityFloorFrac]] ([[TextAnalysis.qualityFloorByGroup]])
    * instead of one absolute threshold — the multilingual-honest form
    * of [[pipelineCurate]] (an absolute gate silently starves
    * languages the heuristics score lower). Then the same mixture
    * sample, md5-twin LSH clustering and min-id keep run over the
    * floor's survivors. Scale shape: the floor adds only the bounded
    * (lang, quality_bp) histogram shuffle before the banding machinery
    * — the corpus itself still reaches the pair join un-shuffled. */
  def pipelineCurateByLang(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // score the corpus ONCE and checkpoint (the audit-checkpoint
    // policy): the histogram, the floor filter and the banding
    // machinery all read the scored rows — without this the
    // regex-heavy scoring runs once per consumer, and deriving the
    // floor from the standalone operator instead would force a corpus
    // self-join on doc_id just to recover text
    val scored = docs
      .withColumn("quality_bp", TextAnalysis.qualityBp(col("text")))
      .seamCheckpoint(false)
    val hist = scored.groupBy(col("lang"), col("quality_bp"))
      .agg(count(lit(1)).as("c"))
    val cutoffs = TextAnalysis.cutoffsFromGroupedHistogram(hist, "lang",
      TextOps.QualityFloorFrac)
    val floored = scored.join(broadcast(cutoffs), Seq("lang"))
      .filter(col("quality_bp") >= col("cutoff"))
    val sampled = TextAnalysis.stratifiedSample(floored, "lang", "doc_id",
      TextOps.SampleRatesBp, TextOps.SampleDefaultBp)
    val clusters = Dedup.nearDupClustersFromPairs(sampled, "doc_id",
      Dedup.minhashLshMd5(sampled, "doc_id", "text"),
      trustedPairs = true)
    sampled.join(clusters.filter(col("keep")), "doc_id")
      .select(col("doc_id"), col("lang"), col("quality_bp"))
  }

  /** The flagship composition with QUALITY-weighted canonical keep:
    * same gates and LSH clustering as [[pipelineCurate]], but the
    * survivor of each near-dup cluster is its highest-quality member
    * (tie → min id, [[Dedup.keepByQuality]]) instead of the min-id doc —
    * what a curation pipeline actually ships. One composed oracle from
    * the same shared CTE fragments. */
  def pipelineCurateQuality(spark: SparkSession, sfDir: String): DataFrame =
    curateQuality(Tables.documents(spark, sfDir))

  /** The blocklist-fronted composition: C4's banned-words page gate
    * ([[graft.operators.Blocklist.tagVerdict]] — scan-side k-grams ×
    * broadcast dictionary, the cheapest gate in the stack, so it runs
    * FIRST) and then the IDENTICAL quality-keep body over the clean
    * relation. Oracle = the blocklist fragments + the shared
    * quality-keep CTEs re-targeted at the filtered corpus — both
    * halves are the strings their per-operator oracles verify. */
  def pipelineCurateBlocklist(spark: SparkSession, sfDir: String): DataFrame =
    curateBlocklist(Tables.documents(spark, sfDir))

  /** [[pipelineCurateBlocklist]] over an arbitrary (doc_id, lang,
    * text) corpus — the registered query binds it to the documents
    * table; the ScaleCurve row drives it with replicated corpora. */
  def curateBlocklist(docs: DataFrame): DataFrame = {
    // both stage boundaries checkpoint lazily: curateQuality consumes
    // its input several times, and without them every consumer re-runs
    // the k-gram scan AND the semi-join (same-host warm at sf0.1:
    // 10.2 s bare, 5.6 with the id set pinned, 4.9 with the clean
    // relation pinned too — vs 3.9 for the gate-free quality pipeline,
    // so the residual IS the blocklist stage). Materializing between
    // major pipeline stages is the standard production shape; the id
    // set is tiny, the clean relation is the stage output itself
    val keepIds = graft.operators.Blocklist
      .tagVerdict(docs, "doc_id", "text")
      .filter(col("keep")).select(col("doc_id"))
      .seamCheckpoint(false)
    curateQuality(docs.join(keepIds, Seq("doc_id"), "left_semi")
      .seamCheckpoint(false))
  }

  /** [[pipelineCurateQuality]] over an arbitrary (doc_id, lang, text)
    * corpus — the registered query binds it to the documents table;
    * specs drive it with corpora that exercise each gate. */
  def curateQuality(docs: DataFrame): DataFrame = {
    // r18: same shape as pipelineCurate — quality as a projection
    // (no doc_id self-join) + the gated mixture materialized once on
    // narrow inputs (three consumers re-ran the gate lineage)
    val filtered = docs
      .withColumn("quality", TextAnalysis.qualityExpr(col("text")))
      .filter(col("quality") >= QualityMin)
    val sampledRaw = TextAnalysis.stratifiedSample(filtered, "lang", "doc_id",
      TextOps.SampleRatesBp, TextOps.SampleDefaultBp)
    val sampled =
      if (graft.operators.ScalePolicy.narrow(sampledRaw))
        sampledRaw.seamCheckpoint(false)
      else sampledRaw
    val clusters = Dedup.nearDupClustersFromPairs(sampled, "doc_id",
      Dedup.minhashLshMd5(sampled, "doc_id", "text"),
      trustedPairs = true)
    val withQuality = clusters.select(col("doc_id"), col("cluster_id"))
      .join(sampled.select(col("doc_id"), col("lang"), col("quality")), "doc_id")
    // lang rides through the argmax join (carryCols) — a join back to
    // `sampled` here would re-execute the whole gate lineage just to
    // recover one column
    Dedup.keepByQuality(withQuality, carryCols = Seq("lang"))
      .filter(col("keep"))
      .select(col("doc_id"), col("lang"), col("quality"))
  }

  /** The full document→token curation stack: [[pipelineCurateQuality]]
    * picks each near-dup cluster's best member, then
    * [[Dedup.stripDuplicateSpans]] runs token-level boilerplate removal
    * over the SURVIVORS — the order the scaladoc on strip promises
    * (document-granularity dedup first, so a mass-duplicated doc's body
    * is retired by canonical-copy retention, and only boilerplate still
    * repeated among survivors is stripped). Output: (doc_id, lang,
    * quality, clean_text, n_dropped).
    *
    * Scale shape: the survivor set (id, lang, quality, text) is
    * localCheckpointed once — span detection scans its input twice
    * (gram side + semi-join side) and the strip re-tokenizes it, and
    * without the checkpoint each scan would re-execute the whole
    * gate+cluster lineage. Everything downstream of the checkpoint is
    * the strip operator's own per-document shape. */
  def pipelineCurateStrip(spark: SparkSession, sfDir: String): DataFrame =
    curateStrip(Tables.documents(spark, sfDir))

  /** The checkpointed survivor set (doc_id, lang, quality, text) both
    * strip-stage compositions scan repeatedly — see [[curateStrip]]'s
    * scaladoc for why the checkpoint sits exactly here. */
  private def keptWithText(docs: DataFrame): DataFrame =
    curateQuality(docs)
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .seamCheckpoint(false)

  /** The production stage ORDER the span-decontamination family
    * completes: benchmark spans are stripped FIRST (an absolute
    * property of (doc, eval suite) — quality must be scored on the
    * text that actually ships, and a quoted benchmark answer must not
    * buy a junk page through the gate), then the FULL curation body
    * runs over the scrubbed corpus — quality ≥ QualityMin, stratified
    * mixture, md5-twin LSH clustering, quality-argmax keep — the
    * [[curateQuality]] composition verbatim via its corpus seam.
    * Scale shape: the scrub is the span operator's own per-document
    * shape; the scrubbed corpus is checkpointed once (the curate body
    * scores, shingles and re-joins text several times). */
  def pipelineCurateScrubbed(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val train = docs
      .filter(col("doc_id") % TextOps.ContamBenchMod =!=
        TextOps.ContamBenchRem)
    val spans = TextAnalysis.contaminationSpans(train,
      docs.filter(col("doc_id") % TextOps.ContamBenchMod ===
        TextOps.ContamBenchRem),
      "doc_id", "text", TextOps.ContamShingleN)
    // a doc the scrub empties out was PURE benchmark content — it has
    // nothing left to train on and nothing to score (the quality
    // expression's char ratios are undefined over ""), so it drops
    // here, before the gate; the oracle applies the identical predicate
    val scrubbed = Dedup.stripSpans(train, spans, "doc_id", "text")
      .filter(length(col("clean_text")) > 0)
      .join(train.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("clean_text").as("text"))
      .seamCheckpoint(false)
    curateQuality(scrubbed)
  }

  /** [[pipelineCurateStrip]] over an arbitrary corpus (see
    * [[curateQuality]]). */
  def curateStrip(docs: DataFrame): DataFrame = {
    val kept = keptWithText(docs)
    Dedup.stripDuplicateSpans(kept, "doc_id", "text")
      .join(kept.select(col("doc_id"), col("lang"), col("quality")), "doc_id")
      .select(col("doc_id"), col("lang"), col("quality"),
        col("clean_text"), col("n_dropped"))
  }

  /** The COMPLETE stack, gates to training layout: curate (quality →
    * mixture → near-dup keep), strip (token-level boilerplate removal
    * over survivors), then the deterministic training-output layout —
    * [[TextAnalysis.packSequences]] over the CLEANED text. This is the
    * end-to-end a pipeline user actually runs: what comes out is the
    * (shard, pos, sequence) coordinate of every surviving document in
    * the final token stream.
    *
    * Scale shape: everything upstream is [[curateStrip]]'s shape (one
    * survivor-set checkpoint, candidates-only near-dup machinery),
    * MINUS its final lang/quality re-join — the layout needs only
    * (doc_id, clean_text), so this composition packs the strip output
    * directly instead of paying a join whose columns it would drop;
    * the layout stage adds exactly ONE more shuffle (on shard) and a
    * fused rank+prefix-sum window — the terminal stage cost is
    * independent of how the corpus was curated. */
  def pipelineCuratePack(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.packSequences(
      Dedup.stripDuplicateSpans(
        keptWithText(Tables.documents(spark, sfDir)), "doc_id", "text"),
      "doc_id", "clean_text", TextOps.NumShards, TextOps.PackBudget)

  /** [[pipelineCuratePack]] taken all the way to the PHYSICAL
    * artifact: the curated, span-stripped corpus TOKENIZED under the
    * corpus-trained BPE (trained on the RAW corpus — a production
    * tokenizer pre-dates any one curation run) and materialized as
    * (shard, seq_id, seq_pos, token_id) slots. Raw documents in,
    * training shards out, every token's physical slot oracle-verified
    * — the complete pipeline this engine exists for.
    *
    * Scale shape: [[curateStrip]]'s shape + the pack placement's one
    * shard shuffle (3 longs per doc) + a scan-side id explode; the
    * cleaned corpus is checkpointed ONCE so placement and emission
    * don't re-run the curation stack twice, and the token stream
    * itself is never exchanged (ids explode after the doc-level
    * placement join). */
  def pipelineCuratePackIds(spark: SparkSession, sfDir: String): DataFrame =
    curatePackIds(Tables.documents(spark, sfDir),
      TextOps.bpeMerges(spark, sfDir))

  /** [[pipelineCuratePackIds]] over an arbitrary corpus under a given
    * trained merge table — the ScaleCurve drives it with replicated
    * corpora and the base-trained merges. */
  def curatePackIds(docs: DataFrame,
      m: Seq[(String, String)]): DataFrame = {
    val cleaned = Dedup.stripDuplicateSpans(
        keptWithText(docs), "doc_id", "text")
      .select(col("doc_id"), col("clean_text"))
      .seamCheckpoint(false)
    val placed = TextAnalysis.packSequencesWith(cleaned, "doc_id",
        "clean_text", TextOps.NumShards, TextOps.PackBudget,
        t => graft.functions.BpeTokenCount(t, m))
      .select(col("doc_id"), col("shard"),
        (col("seq_first") * TextOps.PackBudget + col("seq_offset"))
          .as("doc_start"))
    cleaned.join(placed, "doc_id")
      .select(col("doc_id"), col("shard"), col("doc_start"),
        posexplode(graft.functions.BpeTokenIds(col("clean_text"), m)))
      .select(col("doc_id"), col("shard"),
        expr(s"(doc_start + pos) div ${TextOps.PackBudget}L").as("seq_id"),
        pmod(col("doc_start") + col("pos"),
          lit(TextOps.PackBudget.toLong)).as("seq_pos"),
        col("col").as("token_id"))
  }

  /** The AUDIT view of the flagship pipeline — one verdict row per
    * input document: `keep`, `drop_quality`, `drop_mixture`, or
    * `drop_neardup` with `dup_of` naming the canonical (quality-argmax,
    * min-id tie) the document lost to. This is the data-governance
    * surface a production curation run owes its users ("why was my
    * document dropped, and who superseded it") and the debugging
    * surface for gate tuning — same gates, same clustering, same keep
    * rule as [[pipelineCurateQuality]], composed so a policy change
    * cannot drift the audit from the pipeline.
    *
    * Scale shape: the gate lineage is [[curateQuality]]'s; the audit
    * adds only id-keyed LEFT joins of two id-sized sets (mixture
    * membership, loser→winner map) back onto the corpus — no new
    * shuffle classes, no windows, nothing driver-side. Verdict
    * precedence mirrors the gate order (quality → mixture → near-dup),
    * so a doc failing several gates reports the FIRST one that
    * actually removed it. */
  def pipelineCurateAudit(spark: SparkSession, sfDir: String): DataFrame =
    curateAudit(Tables.documents(spark, sfDir))

  def curateAudit(docs: DataFrame): DataFrame = {
    // the audit fans this lineage out four ways (pair source, cluster
    // seed, quality join, verdict spine) — checkpoint the scored
    // corpus once instead of re-running the regex-heavy quality scan
    // per consumer (the keptWithText idiom; measured 4.0 s → 2.4 s).
    // r18: quality as a projection, not a doc_id self-join.
    val withQ = docs
      .withColumn("quality", TextAnalysis.qualityExpr(col("text")))
      .seamCheckpoint(false)
    val filtered = withQ.filter(col("quality") >= QualityMin)
    val sampled = TextAnalysis.stratifiedSample(filtered, "lang", "doc_id",
      TextOps.SampleRatesBp, TextOps.SampleDefaultBp)
    val clusters = Dedup.nearDupClustersFromPairs(sampled, "doc_id",
      Dedup.minhashLshMd5(sampled, "doc_id", "text"),
      trustedPairs = true)
    val withQuality = clusters.select(col("doc_id"), col("cluster_id"))
      .join(sampled.select(col("doc_id"), col("quality")), "doc_id")
    val verdicts = Dedup.keepByQuality(withQuality)
    val winners = verdicts.filter(col("keep"))
      .select(col("cluster_id"), col("doc_id").as("dup_of"))
    val losers = verdicts.filter(!col("keep"))
      .select(col("doc_id"), col("cluster_id"))
      .join(winners, "cluster_id")
      .select(col("doc_id"), col("dup_of"))
    withQ.select(col("doc_id"), col("quality"))
      .join(sampled.select(col("doc_id"), lit(true).as("in_mix")),
        Seq("doc_id"), "left")
      .join(losers, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("quality") < QualityMin, lit("drop_quality"))
          .when(col("in_mix").isNull, lit("drop_mixture"))
          .when(col("dup_of").isNotNull, lit("drop_neardup"))
          .otherwise(lit("keep")).as("verdict"),
        col("dup_of"))
  }

  /** Curation then SELECTION: the full gate stack picks the clean
    * corpus, then DSIR ranks the survivors against the English target
    * domain and keeps the top-N — the two halves of a training-data
    * pipeline (filter what's junk, then CHOOSE what's most valuable)
    * composed under one oracle. The DSIR model is fit on the SURVIVOR
    * set (post-dedup counts — a mass-duplicated target doc can no
    * longer dominate the target distribution, which is the reason for
    * this stage order). Output carries lang/quality with each selected
    * doc's weight. */
  def pipelineCurateDsir(spark: SparkSession, sfDir: String): DataFrame =
    curateDsir(Tables.documents(spark, sfDir))

  /** [[pipelineCurateDsir]] over an arbitrary corpus (see
    * [[curateQuality]]). */
  def curateDsir(docs: DataFrame): DataFrame = {
    val kept = keptWithText(docs)
    TextAnalysis.dsirSelect(kept, "doc_id", "text", col("lang") === "en")
      .join(kept.select(col("doc_id"), col("lang"), col("quality")),
        "doc_id")
      .select(col("doc_id"), col("lang"), col("quality"), col("weight"))
  }

  /** The composed MULTIMODAL curation: caption+image pairs kept iff
    * the image is not a near-duplicate AND the caption passes the
    * quality gate — the two per-modality gates ([[graft.operators
    * .Multimodal]] aHash hamming dedup, the shared caption quality
    * expression) joined into the audit verdict a captioned-image
    * training set is actually filtered by. Image dup policy is min-id
    * canonical over the hamming pair graph: an asset is a duplicate
    * iff it pairs with a LOWER asset id (pairs are emitted asset_a <
    * asset_b, so "appears as asset_b" is the drop test).
    *
    * Scale shape: captions gate scan-side (one projection); image
    * hashes decode ONCE behind a checkpoint (three pair-machinery
    * consumers), pairs come from the capped banding join (never
    * all-pairs), and the dup side reduces to DISTINCT dropped ids —
    * two longs per duplicate — before touching the doc table. */
  def pipelineCurateMultimodal(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // hashes need no caller-side checkpoint: imageHammingPairs (its
    // only consumer) materializes them internally (r17)
    val hashes = graft.operators.Multimodal.imageAHashes(spark,
        graft.operators.Multimodal.syntheticPngAssets(spark, docs))
      .toDF()
    val dup = graft.operators.Multimodal.imageHammingPairs(hashes)
      .select(col("asset_b").as("doc_id")).distinct()
      .withColumn("img_dup", lit(true))
    multimodalVerdict(docs.select(col("doc_id"), col("lang")),
      TextAnalysis.qualityScore(docs, "doc_id", "text"), dup,
      "doc_id", QualityMin)
  }

  /** [[pipelineCurateMultimodal]] with the TEXT pipeline's canonical
    * policy: connected components over the image hamming pair graph
    * and one min-id canonical per COMPONENT ([[Dedup
    * .nearDupClustersFromPairs]] — transitively closed), instead of
    * the pairwise lower-id-neighbor rule. A chain a–b–c keeps exactly
    * {a} here where the neighbor rule keeps {a, c} (b is nobody's
    * lower neighbor twice) — the policy a dedup pass that must bound
    * storage actually wants. Same audit projection; only the dup
    * derivation moves. */
  def pipelineCurateMultimodalCc(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // hashes need no caller-side checkpoint: imageHammingPairs (their
    // only consumer) materializes them internally (r17)
    val hashes = graft.operators.Multimodal.imageAHashes(spark,
        graft.operators.Multimodal.syntheticPngAssets(spark, docs))
      .toDF()
    // pairs materialize once (the component loop and the vertex draw
    // below both read them — without this each re-runs the banding join
    // over the decoded hashes)
    val pairs = graft.operators.Multimodal.imageHammingPairs(hashes)
      .select(col("asset_a").as("doc_a"), col("asset_b").as("doc_b"))
      .seamCheckpoint(false)
    // the component loop seeds from the pair vertices itself
    // (Dedup.componentLabels); passing them as the corpus too keeps the
    // singleton anti-join pair-sized — an asset in no pair can never
    // enter the dup set this consumer filters for
    val verts = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val dup = Dedup.nearDupClustersFromPairs(verts, "doc_id", pairs,
      trustedPairs = true)
      .filter(!col("keep")).select(col("doc_id"))
      .withColumn("img_dup", lit(true))
    multimodalVerdict(docs.select(col("doc_id"), col("lang")),
      TextAnalysis.qualityScore(docs, "doc_id", "text"), dup,
      "doc_id", QualityMin)
  }

  /** The ONE audit projection of the multimodal curation verdict —
    * shared by the batch composition above and the streaming ingest
    * twin ([[graft.streaming.StreamingPipelines
    * .multimodalCurateIngestBatch]]), so a keep-rule change cannot
    * drift the two apart (the row-for-row parity
    * MultimodalCurateStreamSpec pins). `docsIdLang` carries (idCol,
    * lang); `dup` carries (idCol, img_dup=true) for dropped images. */
  def multimodalVerdict(docsIdLang: DataFrame, quality: DataFrame,
      dup: DataFrame, idCol: String, qualityMin: Double): DataFrame =
    docsIdLang
      .join(quality, idCol)
      .join(dup, Seq(idCol), "left")
      .select(col(idCol), col("lang"), col("quality"),
        col("img_dup").isNull.as("img_keep"),
        (col("quality") >= qualityMin).as("caption_pass"),
        (col("img_dup").isNull && col("quality") >= qualityMin).as("keep"))

  /** The CCNet pipeline end to end: LM-perplexity floor (keep the
    * lowest-cost [[TextOps.UnigramLmKeepFrac]] under the TRAINED
    * unigram LM — the tokenizer's pieces are the LM, zero extra
    * training) → stratified language mixture → md5-twin LSH near-dup
    * clustering → min-id canonical keep. The floor is the
    * corpus-relative histogram machinery over the negated exact
    * millinat key; everything downstream is [[pipelineCurate]]'s own
    * composition. Scale shape: LM scoring is one codegen'd scan (the
    * checkpoint feeds the histogram, the floor filter and the banding
    * machinery — without it the Viterbi scoring runs once per
    * consumer); the histogram is value-domain-bounded; only the
    * floored mixture reaches the pair join. */
  def pipelineCurateLm(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val t = TextOps.unigramModel(spark, sfDir).table
    val scored = docs
      .withColumn("cost_micro",
        graft.functions.UnigramLmCost(col("text"), t))
      .withColumn("n_tok",
        graft.functions.UnigramTokenCount(col("text"), t))
      .withColumn("quality_bp", expr("-(cost_micro div (n_tok * 1000L))"))
      .seamCheckpoint(false)
    val hist = scored.groupBy(col("quality_bp")).agg(count(lit(1)).as("c"))
    val cutoff = TextAnalysis.cutoffFromHistogram(hist,
      TextOps.UnigramLmKeepFrac)
    val floored = scored.crossJoin(broadcast(cutoff))
      .filter(col("quality_bp") >= col("cutoff"))
    val sampled = TextAnalysis.stratifiedSample(floored, "lang", "doc_id",
      TextOps.SampleRatesBp, TextOps.SampleDefaultBp)
    val clusters = Dedup.nearDupClustersFromPairs(sampled, "doc_id",
      Dedup.minhashLshMd5(sampled, "doc_id", "text"),
      trustedPairs = true)
    sampled.join(clusters.filter(col("keep")), "doc_id")
      .select(col("doc_id"), col("lang"),
        (-col("quality_bp")).cast("long").as("mean_cost_millinats"))
  }

  /** The CCNet pipeline COMPLETE (Wenzek et al. 2020, all three
    * stages in the published order): (1) paragraph-granular dedup —
    * [[graft.operators.Paragraphs.scrubByWindow]], repeated units
    * dropped corpus-wide, hosts reassembled, fully-deduplicated docs
    * out; (2) LM perplexity floor over the SCRUBBED text (what
    * survives stage 1 is what the LM should judge — scoring the raw
    * text would let boilerplate mass distort a doc's fluency rank);
    * (3) the language mixture + near-dup canonical keep, also over the
    * scrubbed text. pipeline_curate_lm remains the scrub-free form;
    * this row is the faithful end-to-end chain.
    *
    * Scale shape: the scrub's keeper argmin is the stage's one
    * open-domain shuffle; the scrubbed relation is checkpointed ONCE
    * and feeds the LM scan, the histogram, the mixture and the LSH
    * pair path (the pipelineCurateLm checkpoint discipline); LM
    * scoring stays one codegen'd scan. */
  def pipelineCurateCcnet(spark: SparkSession, sfDir: String): DataFrame =
    curateCcnet(Tables.documents(spark, sfDir),
      TextOps.unigramModel(spark, sfDir).table)

  /** The CCNet body over arbitrary (doc_id, lang, text) docs and a
    * trained unigram table — the gate above binds the corpus tables;
    * the scale-curve row feeds salted replicas through the SAME body. */
  def curateCcnet(docs: DataFrame,
      t: graft.functions.UnigramTable): DataFrame = {
    val sc = graft.operators.Paragraphs.scrubByWindow(docs, "doc_id", "text")
      .filter(length(col("clean_text")) > 0)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("clean_text").as("text"),
        col("n_dropped"))
    val scored = sc
      .withColumn("cost_micro",
        graft.functions.UnigramLmCost(col("text"), t))
      .withColumn("n_tok",
        graft.functions.UnigramTokenCount(col("text"), t))
      .withColumn("quality_bp", expr("-(cost_micro div (n_tok * 1000L))"))
      .seamCheckpoint(false)
    val hist = scored.groupBy(col("quality_bp")).agg(count(lit(1)).as("c"))
    val cutoff = TextAnalysis.cutoffFromHistogram(hist,
      TextOps.UnigramLmKeepFrac)
    val floored = scored.crossJoin(broadcast(cutoff))
      .filter(col("quality_bp") >= col("cutoff"))
    val sampled = TextAnalysis.stratifiedSample(floored, "lang", "doc_id",
      TextOps.SampleRatesBp, TextOps.SampleDefaultBp)
    val clusters = Dedup.nearDupClustersFromPairs(sampled, "doc_id",
      Dedup.minhashLshMd5(sampled, "doc_id", "text"),
      trustedPairs = true)
    sampled.join(clusters.filter(col("keep")), "doc_id")
      .select(col("doc_id"), col("lang"),
        (-col("quality_bp")).cast("long").as("mean_cost_millinats"),
        col("n_dropped").as("n_dropped_units"))
  }

  /** The C4-flavored curation audit (Raffel et al. 2020 composed with
    * this pack's own gates): line rules first (the structural cleanup
    * — [[graft.operators.C4Rules]] over window units at the gate),
    * then C4's page rules, then the quality heuristic and the
    * stratified mixture, reported as the FIRST gate that removed each
    * doc (the pipeline_curate_audit verdict discipline — an audit
    * projection, every doc keeps a row). The quality heuristic scores
    * the ORIGINAL text: C4's line pass is structural cleanup, and on a
    * line-rule-degenerate corpus scoring the cleaned text would divide
    * by an empty string (the cross-engine NULL/NaN trap).
    * Scale shape: everything here is scan-side (the unit explode, the
    * rollup's one partial-agg groupBy, the hash mixture gate) — no
    * pair joins, no windows, no driver state. */
  def pipelineCurateC4(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.C4Rules
    val docs = Tables.documents(spark, sfDir)
    val lf = C4Rules.c4LineFilterByWindow(docs, "doc_id", "text")
    val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
    val mix = TextAnalysis.stratifiedSample(docs, "lang", "doc_id",
        TextOps.SampleRatesBp, TextOps.SampleDefaultBp)
      .select(col("doc_id"), lit(true).as("in_mix"))
    docs.select(col("doc_id"), col("lang"))
      .join(lf.select(col("doc_id"), col("n_kept"), col("has_lorem"),
        col("has_brace")), "doc_id")
      .join(quality, "doc_id")
      .join(mix, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_kept"),
        when(col("n_kept") < C4Rules.MinKeptLines, lit("drop_lines"))
          .when(col("has_lorem"), lit("drop_lorem"))
          .when(col("has_brace"), lit("drop_brace"))
          .when(col("quality") < QualityMin, lit("drop_quality"))
          .when(col("in_mix").isNull, lit("drop_mixture"))
          .otherwise(lit("keep")).as("verdict"))
  }

  /** CCNet's published three-way output (Wenzek et al. 2020 §3: the
    * corpus is split per LANGUAGE into head/middle/tail perplexity
    * thirds, and downstream consumers pick buckets instead of a hard
    * floor). Thirds of the SCRUBBED corpus (stage 1 first, like the
    * full chain) by LM cost: two cutoffs from the SAME value-domain-
    * bounded per-lang histogram the floor uses
    * ([[TextAnalysis.cutoffsFromGroupedHistogram]] at 1/3 and 2/3) —
    * head = best third (quality_bp ≥ head cutoff), tail = worst.
    * Ties at a boundary fall into the better bucket, so the split is
    * value-based and partition-independent like every floor here.
    * Scale shape: one scrub shuffle, one codegen'd LM scan into a
    * checkpoint, ONE (lang, bp) histogram partial-agg feeding both
    * cutoff windows, two ≤|langs|-row broadcasts back onto the scan —
    * the corpus is never key-shuffled. */
  val CcnetHeadFrac: Double = 1.0 / 3
  val CcnetMidFrac: Double = 2.0 / 3

  def ccnetBuckets(spark: SparkSession, sfDir: String): DataFrame =
    ccnetBucketsBody(Tables.documents(spark, sfDir),
      TextOps.unigramModel(spark, sfDir).table)

  /** The bucket body over arbitrary (doc_id, lang, text) docs — the
    * gate binds the corpus tables; the streaming twin feeds micro-batch
    * snapshots through the SAME body. */
  def ccnetBucketsBody(docs: DataFrame,
      t: graft.functions.UnigramTable): DataFrame = {
    val sc = graft.operators.Paragraphs.scrubByWindow(docs, "doc_id", "text")
      .filter(length(col("clean_text")) > 0)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("clean_text").as("text"))
    val scored = sc
      .withColumn("cost_micro",
        graft.functions.UnigramLmCost(col("text"), t))
      .withColumn("n_tok",
        graft.functions.UnigramTokenCount(col("text"), t))
      .withColumn("quality_bp", expr("-(cost_micro div (n_tok * 1000L))"))
      .seamCheckpoint(false)
    val hist = scored.groupBy(col("lang"), col("quality_bp"))
      .agg(count(lit(1)).as("c"))
      .seamCheckpoint(false) // bounded; feeds BOTH cutoff windows
    val headCut = TextAnalysis
      .cutoffsFromGroupedHistogram(hist, "lang", CcnetHeadFrac)
      .withColumnRenamed("cutoff", "head_cut")
    val midCut = TextAnalysis
      .cutoffsFromGroupedHistogram(hist, "lang", CcnetMidFrac)
      .withColumnRenamed("cutoff", "mid_cut")
    scored.join(broadcast(headCut), Seq("lang"))
      .join(broadcast(midCut), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        (-col("quality_bp")).cast("long").as("mean_cost_millinats"),
        when(col("quality_bp") >= col("head_cut"), lit("head"))
          .when(col("quality_bp") >= col("mid_cut"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** The MASTER composition — every curation family in one row, the
    * flagship end-to-end pipeline: trained-classifier gate (exact
    * integer sign) → paragraph scrub (CCNet stage 1, over classifier
    * survivors — the keeper argmin's domain is the surviving corpus)
    * → corpus-relative LM floor on the scrubbed text → stratified
    * mixture → MinHash-LSH near-dup canonical keep; the composite
    * Gopher verdict rides along as a reported flag (on this corpus the
    * octet stops everything — gating on it would blank the downstream
    * stages; a production recipe flips it into the keep chain with one
    * `when`). Audit projection: every doc keeps a row, verdict = the
    * FIRST gate that removed it (the pipeline_curate_audit
    * discipline). Every fragment is the SHARED oracle string of its
    * standalone gate.
    * Scale shape: classifier + LM scoring are one codegen'd scan each
    * (checkpointed once); the scrub's keeper argmin is the one
    * open-domain shuffle; histogram/cutoff value-domain-bounded; only
    * the floored mixture reaches the pair join; verdict assembly is
    * doc-keyed marker joins. */
  def pipelineCurateMaster(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    curateMaster(docs, TextOps.unigramModel(spark, sfDir).table,
      graft.operators.NbClassifier.trainCached(docs, sfDir, "doc_id", "text"))
  }

  /** The master body over arbitrary (doc_id, lang, text) docs and
    * trained models — the scale-curve row feeds salted replicas
    * through the SAME body. */
  def curateMaster(docs: DataFrame, t: graft.functions.UnigramTable,
      nb: graft.operators.NbClassifier.Model): DataFrame = {
    import graft.operators.{NbClassifier, Paragraphs}
    val gopher = TextOps.gopherVerdictOf(docs)
      .select(col("doc_id"), col("keep").as("gopher_keep"))
    val scored0 = docs
      .withColumn("clf_raw", NbClassifier.rawScoreExpr(col("text"), nb))
      .seamCheckpoint(false) // one inference scan; spine + gate read it
    val clfPass = scored0.filter(col("clf_raw") > 0)
    val sc = Paragraphs.scrubByWindow(clfPass, "doc_id", "text")
      .filter(length(col("clean_text")) > 0)
      .join(clfPass.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("clean_text").as("text"))
    val scored = sc
      .withColumn("cost_micro",
        graft.functions.UnigramLmCost(col("text"), t))
      .withColumn("n_tok",
        graft.functions.UnigramTokenCount(col("text"), t))
      .withColumn("quality_bp", expr("-(cost_micro div (n_tok * 1000L))"))
      .seamCheckpoint(false)
    val hist = scored.groupBy(col("quality_bp")).agg(count(lit(1)).as("c"))
    val cutoff = TextAnalysis.cutoffFromHistogram(hist,
      TextOps.UnigramLmKeepFrac)
    val floored = scored.crossJoin(broadcast(cutoff))
      .filter(col("quality_bp") >= col("cutoff"))
    val sampled = TextAnalysis.stratifiedSample(floored, "lang", "doc_id",
      TextOps.SampleRatesBp, TextOps.SampleDefaultBp)
    val clusters = Dedup.nearDupClustersFromPairs(sampled, "doc_id",
      Dedup.minhashLshMd5(sampled, "doc_id", "text"),
      trustedPairs = true)
    val keepers = sampled.join(clusters.filter(col("keep")), "doc_id")
      .select(col("doc_id"), lit(true).as("is_keeper"))
    def mark(df: DataFrame, name: String) =
      df.select(col("doc_id"), lit(true).as(name))
    docs.select(col("doc_id"), col("lang"))
      .join(gopher, "doc_id")
      .join(scored0.select(col("doc_id"), col("clf_raw")), "doc_id")
      .join(mark(sc, "in_scrub"), Seq("doc_id"), "left")
      .join(mark(floored, "in_floor"), Seq("doc_id"), "left")
      .join(mark(sampled, "in_mix"), Seq("doc_id"), "left")
      .join(keepers, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("gopher_keep"),
        when(col("clf_raw") <= 0, lit("drop_classifier"))
          .when(col("in_scrub").isNull, lit("drop_scrubbed"))
          .when(col("in_floor").isNull, lit("drop_floor"))
          .when(col("in_mix").isNull, lit("drop_mixture"))
          .when(col("is_keeper").isNull, lit("drop_neardup"))
          .otherwise(lit("keep")).as("verdict"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("pipeline_curate" -> (pipelineCurate _),
      "pipeline_curate_bylang" -> (pipelineCurateByLang _),
      "pipeline_curate_quality" -> (pipelineCurateQuality _),
      "pipeline_curate_blocklist" -> (pipelineCurateBlocklist _),
      "pipeline_curate_strip" -> (pipelineCurateStrip _),
      "pipeline_curate_pack" -> (pipelineCuratePack _),
      "pipeline_curate_pack_ids" -> (pipelineCuratePackIds _),
      "pipeline_curate_audit" -> (pipelineCurateAudit _),
      "pipeline_curate_dsir" -> (pipelineCurateDsir _),
      "pipeline_curate_multimodal" -> (pipelineCurateMultimodal _),
      "pipeline_curate_multimodal_cc" -> (pipelineCurateMultimodalCc _),
      "pipeline_curate_scrubbed" -> (pipelineCurateScrubbed _),
      "pipeline_curate_lm" -> (pipelineCurateLm _),
      "pipeline_curate_ccnet" -> (pipelineCurateCcnet _),
      "ccnet_buckets" -> (ccnetBuckets _),
      "pipeline_curate_c4" -> (pipelineCurateC4 _),
      "pipeline_curate_master" -> (pipelineCurateMaster _))

  /** Shared CTE body of the quality-keep oracles: gates (q/sampled),
    * md5-twin LSH pairs, recursive components, and the quality-argmax
    * keep (j/b/k) — pipeline_curate_quality selects the winners
    * directly, pipeline_curate_strip re-joins text and strips. ONE
    * string, so a keep-rule change can't drift the two apart. */
  private val qualityKeepCtes: String = qualityKeepCtesFrom("documents")

  /** [[qualityKeepCtes]] over an arbitrary (doc_id, lang, text)
    * relation — the scrubbed composition feeds the benchmark-stripped
    * corpus through the IDENTICAL gate body. */
  private def qualityKeepCtesFrom(src: String): String =
    s"""q AS (
       |  SELECT doc_id, lang, text,
       |  ${TextOps.qualityExprSql} AS quality
       |  FROM $src
       |), sampled AS (
       |  SELECT * FROM q
       |  WHERE quality >= $QualityMin
       |    AND ${TextOps.sampleGateSql}
       |),
       |${DedupOps.minhashMd5PairCtesFrom("sampled")},
       |${DedupOps.componentCtes("sampled", graft.operators.Dedup.NgramThreshold)},
       |j AS (SELECT cc.v AS doc_id, cc.cluster_id, s.lang, s.quality
       |      FROM cc JOIN sampled s ON cc.v = s.doc_id),
       |b AS (SELECT cluster_id, max(quality) AS best_q FROM j GROUP BY cluster_id),
       |k AS (SELECT j.cluster_id, min(j.doc_id) AS best_id
       |      FROM j JOIN b ON j.cluster_id = b.cluster_id AND j.quality = b.best_q
       |      GROUP BY j.cluster_id)""".stripMargin

  /** The survivor set with text re-joined — the `kept` CTE both
    * strip-stage composed oracles build on (ONE string, same reason as
    * [[qualityKeepCtes]]: a keep-rule change cannot drift them). */
  private val keptCte: String =
    s"""kept AS (
       |  SELECT j.doc_id, j.lang, j.quality, s.text
       |  FROM j JOIN k ON j.cluster_id = k.cluster_id
       |       JOIN sampled s ON j.doc_id = s.doc_id
       |  WHERE j.doc_id = k.best_id
       |)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    // the multimodal composition: the phash formula-recompute head and
    // banding pair CTEs (the multimodal_phash_dedup oracle verbatim)
    // plus the shared caption quality expression — keep is the AND of
    // the two per-modality verdicts
    "pipeline_curate_multimodal" ->
      s"""${TextOps.phashCte}${TextOps.hammingPairsCtes},
         |q AS (SELECT doc_id, ${TextOps.qualityExprSql} AS quality
         |      FROM documents),
         |dup AS (SELECT DISTINCT asset_b AS doc_id FROM mpairs)
         |SELECT d.doc_id, d.lang, q.quality,
         |  (dup.doc_id IS NULL) AS img_keep,
         |  (q.quality >= $QualityMin) AS caption_pass,
         |  ((dup.doc_id IS NULL) AND q.quality >= $QualityMin) AS keep
         |FROM documents d
         |JOIN q USING (doc_id)
         |LEFT JOIN dup USING (doc_id)""".stripMargin,

    // the component-canonical policy twin: the SAME pair CTEs feed the
    // recursive min-label components (the text clustering oracle's
    // fragment over the image pair graph; jac = 1.0 literal ≥ 0.0 —
    // the hamming verify already gated the pairs), keep = component
    // canonical
    "pipeline_curate_multimodal_cc" ->
      s"""${TextOps.phashCte.replaceFirst("^WITH ", "WITH RECURSIVE ")}${TextOps.hammingPairsCtes},
         |pairs AS (SELECT asset_a AS doc_a, asset_b AS doc_b, 1.0 AS jac
         |          FROM mpairs),
         |${DedupOps.componentCtes("documents", 0.0)},
         |q AS (SELECT doc_id, ${TextOps.qualityExprSql} AS quality
         |      FROM documents),
         |dup AS (SELECT v AS doc_id FROM cc WHERE v <> cluster_id)
         |SELECT d.doc_id, d.lang, q.quality,
         |  (dup.doc_id IS NULL) AS img_keep,
         |  (q.quality >= $QualityMin) AS caption_pass,
         |  ((dup.doc_id IS NULL) AND q.quality >= $QualityMin) AS keep
         |FROM documents d
         |JOIN q USING (doc_id)
         |LEFT JOIN dup USING (doc_id)""".stripMargin,

    "pipeline_curate" ->
      s"""WITH RECURSIVE q AS (
         |  SELECT doc_id, lang, text,
         |  ${TextOps.qualityExprSql} AS quality
         |  FROM documents
         |), sampled AS (
         |  SELECT * FROM q
         |  WHERE quality >= $QualityMin
         |    AND ${TextOps.sampleGateSql}
         |),
         |${DedupOps.minhashMd5PairCtesFrom("sampled")},
         |${DedupOps.componentCtes("sampled", graft.operators.Dedup.NgramThreshold)}
         |SELECT s.doc_id, s.lang, s.quality
         |FROM sampled s JOIN cc ON s.doc_id = cc.v
         |WHERE s.doc_id = cc.cluster_id""".stripMargin,

    // per-lang relative floor (the quality_floor_by_lang CTEs,
    // f-prefixed to stay clear of the shared pair/component fragment
    // names) replacing the absolute gate, then the SAME mixture gate +
    // md5-twin pair/component fragments and min-id keep tail as
    // pipeline_curate — floor change and dedup tail can't drift apart
    "pipeline_curate_bylang" ->
      s"""WITH RECURSIVE qbp AS (
         |  SELECT doc_id, lang, text,
         |  CAST(round((${TextOps.qualityExprSql}) * 10000) AS BIGINT) AS quality_bp
         |  FROM documents
         |), fh AS (SELECT lang, quality_bp, count(*) AS c FROM qbp GROUP BY lang, quality_bp),
         |fn AS (SELECT lang, sum(c) AS n FROM fh GROUP BY lang),
         |fcum AS (SELECT lang, quality_bp,
         |        sum(c) OVER (PARTITION BY lang ORDER BY quality_bp DESC ROWS UNBOUNDED PRECEDING) AS cum
         |        FROM fh),
         |fcut AS (SELECT fcum.lang, max(quality_bp) AS cutoff
         |        FROM fcum JOIN fn USING (lang)
         |        WHERE cum >= ceil(fn.n * ${TextOps.QualityFloorFrac})
         |        GROUP BY fcum.lang),
         |sampled AS (
         |  SELECT q.doc_id, q.lang, q.text, q.quality_bp
         |  FROM qbp q JOIN fcut USING (lang)
         |  WHERE q.quality_bp >= fcut.cutoff
         |    AND ${TextOps.sampleGateSql}
         |),
         |${DedupOps.minhashMd5PairCtesFrom("sampled")},
         |${DedupOps.componentCtes("sampled", graft.operators.Dedup.NgramThreshold)}
         |SELECT s.doc_id, s.lang, s.quality_bp
         |FROM sampled s JOIN cc ON s.doc_id = cc.v
         |WHERE s.doc_id = cc.cluster_id""".stripMargin,

    // same gates + clustering, quality-argmax keep (min-id tie-break) —
    // the j/b/k tail mirrors DedupOps.keepQualityOracle over `sampled`
    "pipeline_curate_quality" ->
      s"""WITH RECURSIVE $qualityKeepCtes
         |SELECT j.doc_id, j.lang, j.quality
         |FROM j JOIN k ON j.cluster_id = k.cluster_id
         |WHERE j.doc_id = k.best_id""".stripMargin,

    // blocklist gate first (the cheap scan-side page rule), then the
    // IDENTICAL quality-keep body over the clean relation — fragments
    // shared verbatim with blocklist_tag / pipeline_curate_quality
    "pipeline_curate_blocklist" ->
      s"""WITH RECURSIVE ${TextOps.blocklistCteBody},
         |${TextOps.blocklistPerdocCtes},
         |clean AS (
         |  SELECT d.doc_id, d.lang, d.text
         |  FROM documents d LEFT JOIN perdoc p USING (doc_id)
         |  WHERE coalesce(p.n_hits, 0) = 0
         |),
         |${qualityKeepCtesFrom("clean")}
         |SELECT j.doc_id, j.lang, j.quality
         |FROM j JOIN k ON j.cluster_id = k.cluster_id
         |WHERE j.doc_id = k.best_id""".stripMargin,

    // the scrub-first composition: the decontaminate_strip fragment
    // verbatim (TextOps.contamStripCtes), lang re-joined, then the
    // IDENTICAL quality-keep body over the scrubbed relation — both
    // halves are the same strings their per-operator oracles verify
    "pipeline_curate_scrubbed" ->
      s"""WITH RECURSIVE ${TextOps.contamStripCtes},
         |scr AS (
         |  SELECT c.doc_id, d.lang, c.clean_text AS text
         |  FROM cstrip c JOIN documents d USING (doc_id)
         |  WHERE length(c.clean_text) > 0
         |),
         |${qualityKeepCtesFrom("scr")}
         |SELECT j.doc_id, j.lang, j.quality
         |FROM j JOIN k ON j.cluster_id = k.cluster_id
         |WHERE j.doc_id = k.best_id""".stripMargin,

    // the pipeline_curate_quality tail becomes a `kept` CTE (with text
    // re-joined from sampled), then the shared span-mark fragment runs
    // over the survivors and the kept tokens are rebuilt per document
    "pipeline_curate_strip" ->
      s"""WITH RECURSIVE $qualityKeepCtes,
         |$keptCte,
         |${DedupOps.spanMarkCtesFrom("kept", graft.operators.Dedup.DupSpanTokens)}
         |SELECT kp.doc_id, kp.lang, kp.quality,
         |  coalesce(string_agg(m.tok, ' ' ORDER BY m.pos)
         |    FILTER (WHERE m.dropped = 0), '') AS clean_text,
         |  CAST(sum(m.dropped) AS BIGINT) AS n_dropped
         |FROM markedt m JOIN kept kp ON m.doc_id = kp.doc_id
         |GROUP BY kp.doc_id, kp.lang, kp.quality""".stripMargin,

    // the pipeline_curate_strip tail becomes a `cleaned` CTE, then the
    // shared shard/pack fragments lay out the CLEANED text — the same
    // strings the standalone strip and pack oracles verify, end to end
    "pipeline_curate_pack" ->
      s"""WITH RECURSIVE $qualityKeepCtes,
         |$keptCte,
         |${DedupOps.spanMarkCtesFrom("kept", graft.operators.Dedup.DupSpanTokens)},
         |cleaned AS (
         |  SELECT m.doc_id,
         |    coalesce(string_agg(m.tok, ' ' ORDER BY m.pos)
         |      FILTER (WHERE m.dropped = 0), '') AS clean_text
         |  FROM markedt m
         |  GROUP BY m.doc_id
         |),
         |${TextOps.shardPackCtesFrom("cleaned", "clean_text", "ps", "pw")}
         |${TextOps.packSelectFrom("pw")}""".stripMargin,

    // the quality-keep tail becomes the `kept` relation, then the
    // SHARED DSIR fragment (TextOps.dsirCtesFrom — the same string the
    // standalone oracle verifies) fits the model on the survivors and
    // the top-N selection joins back lang/quality
    "pipeline_curate_dsir" ->
      s"""WITH RECURSIVE $qualityKeepCtes,
         |$keptCte,
         |${TextOps.dsirCtesFrom("kept", "lang = 'en'")}
         |SELECT w.doc_id, kp.lang, kp.quality, w.weight
         |FROM (SELECT doc_id, weight FROM dw
         |      ORDER BY weight DESC, doc_id ASC
         |      LIMIT ${graft.operators.TextAnalysis.DsirTopN}) w
         |JOIN kept kp USING (doc_id)""".stripMargin,

    // the shared j/k argmax tail becomes a loser→winner map; verdict
    // precedence mirrors the gate order, so the CASE reports the FIRST
    // gate that removed each doc
    "pipeline_curate_audit" ->
      s"""WITH RECURSIVE $qualityKeepCtes,
         |lose AS (
         |  SELECT j.doc_id AS lid, k.best_id AS dup_of
         |  FROM j JOIN k ON j.cluster_id = k.cluster_id
         |  WHERE j.doc_id <> k.best_id
         |)
         |SELECT q.doc_id,
         |  CASE WHEN q.quality < $QualityMin THEN 'drop_quality'
         |       WHEN NOT (${TextOps.sampleGateSql}) THEN 'drop_mixture'
         |       WHEN l.dup_of IS NOT NULL THEN 'drop_neardup'
         |       ELSE 'keep' END AS verdict,
         |  l.dup_of
         |FROM q LEFT JOIN lose l ON q.doc_id = l.lid""".stripMargin,

    // C4 composed audit: the SHARED line-rule CTEs (c4_line_filter's
    // strings verbatim), page flags off the raw scan, then the shared
    // quality expression and mixture gate — verdict is the first
    // failing gate in pipeline order
    "pipeline_curate_c4" -> {
      import graft.operators.C4Rules._
      s"""WITH ${TextOps.c4LineCtes},
         |q AS (SELECT doc_id, ${TextOps.qualityExprSql} AS quality
         |      FROM documents)
         |SELECT d.doc_id, d.lang,
         |  CAST(coalesce(g.n_kept, 0) AS BIGINT) AS n_kept,
         |  CASE WHEN coalesce(g.n_kept, 0) < $MinKeptLines THEN 'drop_lines'
         |       WHEN contains(lower(d.text), '$BannedPagePhrase') THEN 'drop_lorem'
         |       WHEN contains(d.text, '$BannedPageChar') THEN 'drop_brace'
         |       WHEN q.quality < $QualityMin THEN 'drop_quality'
         |       WHEN NOT (${TextOps.sampleGateSql}) THEN 'drop_mixture'
         |       ELSE 'keep' END AS verdict
         |FROM documents d JOIN q USING (doc_id)
         |LEFT JOIN g USING (doc_id)""".stripMargin
    }
  ) ++ bpePipelineOracles ++ lmPipelineOracle ++ masterOracle

  /** The master oracle needs BOTH trained artifacts (unigram LM +
    * NB classifier); the gopher and classifier gates nest as
    * subquery-scoped full-oracle CTE bodies (the gopher_verdict
    * pattern — internal names can't collide), everything else is the
    * shared fragments retargeted along the survivor chain. */
  private def masterOracle: Map[String, String] = (for {
    model <- graft.operators.UnigramLmTokenizer
      .trainedSnapshot(TextOps.MaxBpeWords, TextOps.UnigramVocabTarget)
      .filter(_.pieces.nonEmpty)
    rawSql <- ClassifierOps.rawScoreOracleSql
  } yield "pipeline_curate_master" ->
    s"""WITH RECURSIVE
       |gv AS (${TextOps.oracleSql("gopher_verdict")}),
       |cs AS ($rawSql),
       |clf AS (
       |  SELECT d.doc_id, d.lang, d.text
       |  FROM documents d JOIN cs ON cs.doc_id = d.doc_id
       |  WHERE cs.raw > 0
       |),
       |${ccnetScrubCtesFrom("clf")},
       |${TextOps.unigramCtes(model)},
       |${TextOps.lmCostCtes},
       |$scrubbedLmCostCtes,
       |${TextOps.lmFloorCtesFrom("sdc", "sdn", "n_uni")},
       |flo AS (
       |  SELECT sc.doc_id, sc.lang, sc.text
       |  FROM sc JOIN kq USING (doc_id), cut
       |  WHERE kq.quality_bp >= cut.cutoff
       |), sampled AS (
       |  SELECT * FROM flo WHERE ${TextOps.sampleGateSql}
       |),
       |${DedupOps.minhashMd5PairCtesFrom("sampled")},
       |${DedupOps.componentCtes("sampled", Dedup.NgramThreshold)},
       |kp AS (SELECT v AS doc_id FROM cc WHERE v = cluster_id)
       |SELECT d.doc_id, d.lang, gv.keep AS gopher_keep,
       |  CASE WHEN cs.raw <= 0 THEN 'drop_classifier'
       |       WHEN sc.doc_id IS NULL THEN 'drop_scrubbed'
       |       WHEN flo.doc_id IS NULL THEN 'drop_floor'
       |       WHEN smp.doc_id IS NULL THEN 'drop_mixture'
       |       WHEN kp.doc_id IS NULL THEN 'drop_neardup'
       |       ELSE 'keep' END AS verdict
       |FROM documents d
       |JOIN gv ON gv.doc_id = d.doc_id
       |JOIN cs ON cs.doc_id = d.doc_id
       |LEFT JOIN sc ON sc.doc_id = d.doc_id
       |LEFT JOIN flo ON flo.doc_id = d.doc_id
       |LEFT JOIN sampled smp ON smp.doc_id = d.doc_id
       |LEFT JOIN kp ON kp.doc_id = d.doc_id""".stripMargin).toMap

  /** Stage-1 scrub as CTEs — paragraph keep/drop (`v`), reassembly
    * (`pg`), and the non-empty scrubbed relation `sc(doc_id, lang,
    * text, n_dropped)`. ONE string shared by the composed CCNet oracle
    * and the bucket oracle, so the scrub semantics cannot drift. */
  private def ccnetScrubCtes: String = ccnetScrubCtesFrom("documents")

  private def ccnetScrubCtesFrom(src: String): String =
    s"""${DedupOps.paragraphCtesFrom(src)},
       |pg AS (
       |  SELECT doc_id,
       |    string_agg(CASE WHEN keep THEN par END, ' ' ORDER BY par_idx)
       |      AS clean_text,
       |    CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dropped
       |  FROM v GROUP BY doc_id
       |), sc AS (
       |  SELECT d.doc_id, d.lang, pg.clean_text AS text, pg.n_dropped
       |  FROM $src d JOIN pg USING (doc_id)
       |  WHERE pg.clean_text IS NOT NULL AND length(pg.clean_text) > 0
       |)""".stripMargin

  /** Scrubbed-text LM cost re-using the per-word tables (every
    * scrubbed word is an original corpus token, so uwc/uwt cover it):
    * ends in sdc(doc_id, cost_micro) / sdn(doc_id, n_uni). Shared by
    * the composed CCNet oracle and the bucket oracle. */
  private def scrubbedLmCostCtes: String =
    s"""socc AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS wi, w[i] AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM sc),
       |       unnest(range(1, len(w) + 1)) AS u2(i)
       |), sdc AS (
       |  SELECT socc.doc_id, CAST(sum(uwc.wcost) AS BIGINT) AS cost_micro
       |  FROM socc JOIN uwc USING (word) GROUP BY doc_id
       |), sdn AS (
       |  SELECT socc.doc_id, CAST(sum(uwt.n) AS BIGINT) AS n_uni
       |  FROM socc JOIN uwt USING (word) GROUP BY doc_id
       |)""".stripMargin

  // generated from the exact unigram model the engine trained (the
  // bpeOracles pattern): the floor fragments are the SAME strings the
  // standalone unigram_lm_floor oracle verifies, the mixture gate and
  // pair/component fragments the same strings pipeline_curate verifies
  private def lmPipelineOracle: Map[String, String] =
    graft.operators.UnigramLmTokenizer
      .trainedSnapshot(TextOps.MaxBpeWords, TextOps.UnigramVocabTarget)
      .filter(_.pieces.nonEmpty).toList.flatMap { model =>
        Seq("pipeline_curate_lm" ->
          s"""WITH RECURSIVE ${TextOps.unigramCtes(model)},
             |${TextOps.lmCostCtes},
             |${TextOps.lmFloorCtes},
             |flo AS (
             |  SELECT d.doc_id, d.lang, d.text, kq.quality_bp
             |  FROM documents d JOIN kq USING (doc_id), cut
             |  WHERE kq.quality_bp >= cut.cutoff
             |), sampled AS (
             |  SELECT * FROM flo WHERE ${TextOps.sampleGateSql}
             |),
             |${DedupOps.minhashMd5PairCtesFrom("sampled")},
             |${DedupOps.componentCtes("sampled", graft.operators.Dedup.NgramThreshold)}
             |SELECT s.doc_id, s.lang,
             |  CAST(-s.quality_bp AS BIGINT) AS mean_cost_millinats
             |FROM sampled s JOIN cc ON s.doc_id = cc.v
             |WHERE s.doc_id = cc.cluster_id""".stripMargin,

          // the COMPLETE chain: paragraph scrub (stage 1), then the LM
          // floor / mixture / near-dup tail over the SCRUBBED text —
          // scrubbed per-doc LM cost reuses the per-word tables (every
          // scrubbed word is an original corpus token, so uwc/uwt
          // cover it); the floor tail is the shared fragment
          // re-targeted at the scrubbed relations
          "pipeline_curate_ccnet" ->
          s"""WITH RECURSIVE $ccnetScrubCtes,
             |${TextOps.unigramCtes(model)},
             |${TextOps.lmCostCtes},
             |$scrubbedLmCostCtes,
             |${TextOps.lmFloorCtesFrom("sdc", "sdn", "n_uni")},
             |flo AS (
             |  SELECT sc.doc_id, sc.lang, sc.text, sc.n_dropped, kq.quality_bp
             |  FROM sc JOIN kq USING (doc_id), cut
             |  WHERE kq.quality_bp >= cut.cutoff
             |), sampled AS (
             |  SELECT * FROM flo WHERE ${TextOps.sampleGateSql}
             |),
             |${DedupOps.minhashMd5PairCtesFrom("sampled")},
             |${DedupOps.componentCtes("sampled", graft.operators.Dedup.NgramThreshold)}
             |SELECT s.doc_id, s.lang,
             |  CAST(-s.quality_bp AS BIGINT) AS mean_cost_millinats,
             |  s.n_dropped AS n_dropped_units
             |FROM sampled s JOIN cc ON s.doc_id = cc.v
             |WHERE s.doc_id = cc.cluster_id""".stripMargin,

          // per-lang thirds: same scrub + per-word cost fragments, one
          // (lang, bp) histogram, TWO cumulative cutoffs (the CASE
          // mirrors the engine's better-bucket tie rule)
          "ccnet_buckets" ->
          s"""WITH RECURSIVE $ccnetScrubCtes,
             |${TextOps.unigramCtes(model)},
             |${TextOps.lmCostCtes},
             |$scrubbedLmCostCtes,
             |kqb AS (
             |  SELECT sc.doc_id, sc.lang,
             |    -(sdc.cost_micro // (sdn.n_uni * 1000)) AS quality_bp
             |  FROM sc JOIN sdc USING (doc_id) JOIN sdn USING (doc_id)
             |), bh AS (SELECT lang, quality_bp, count(*) AS c
             |          FROM kqb GROUP BY lang, quality_bp),
             |bn AS (SELECT lang, sum(c) AS n FROM bh GROUP BY lang),
             |bcum AS (SELECT lang, quality_bp,
             |         sum(c) OVER (PARTITION BY lang ORDER BY quality_bp DESC
             |                      ROWS UNBOUNDED PRECEDING) AS cum
             |         FROM bh),
             |hcut AS (SELECT bcum.lang, max(quality_bp) AS head_cut
             |         FROM bcum JOIN bn USING (lang)
             |         WHERE cum >= ceil(bn.n * $CcnetHeadFrac)
             |         GROUP BY bcum.lang),
             |mcut AS (SELECT bcum.lang, max(quality_bp) AS mid_cut
             |         FROM bcum JOIN bn USING (lang)
             |         WHERE cum >= ceil(bn.n * $CcnetMidFrac)
             |         GROUP BY bcum.lang)
             |SELECT kqb.doc_id, kqb.lang,
             |  CAST(-kqb.quality_bp AS BIGINT) AS mean_cost_millinats,
             |  CASE WHEN kqb.quality_bp >= hcut.head_cut THEN 'head'
             |       WHEN kqb.quality_bp >= mcut.mid_cut THEN 'middle'
             |       ELSE 'tail' END AS bucket
             |FROM kqb JOIN hcut USING (lang) JOIN mcut USING (lang)""".stripMargin)
      }.toMap

  // generated from the engine's trained merge table (the TextOps
  // bpeOracles gating): present once the query pass has run — always
  // true in Verify's dump order
  private def bpePipelineOracles: Map[String, String] =
    graft.operators.BpeTokenizer
      .trainedSnapshot(TextOps.MaxBpeWords, TextOps.NumBpeMerges)
      .filter(_.nonEmpty).toList.flatMap { merges =>
        Seq(
          // the curate_pack oracle's cleaned CTE, then the SHARED BPE
          // fragments retargeted at the cleaned text: word fold from
          // the RAW corpus (plus the '' row — a fully-stripped doc's
          // clean_text splits to one empty word), per-doc counts and
          // token positions over the SURVIVORS, pack placement under
          // the BPE denomination, the vocabulary-free id CASE
          "pipeline_curate_pack_ids" ->
            s"""WITH RECURSIVE $qualityKeepCtes,
               |$keptCte,
               |${DedupOps.spanMarkCtesFrom("kept", graft.operators.Dedup.DupSpanTokens)},
               |cleaned AS (
               |  SELECT m.doc_id,
               |    coalesce(string_agg(m.tok, ' ' ORDER BY m.pos)
               |      FILTER (WHERE m.dropped = 0), '') AS clean_text
               |  FROM markedt m
               |  GROUP BY m.doc_id
               |),
               |${TextOps.bpeCtes(merges)},
               |${TextOps.bpeEncodeCtesFrom(merges.size, "cleaned", "clean_text")},
               |cbdn AS (
               |  SELECT doc_id, CAST(sum(bwt.n) AS BIGINT) AS n_tokens_bpe
               |  FROM wocc JOIN bwt USING (word) GROUP BY doc_id
               |),
               |${TextOps.shardPackCtesCounted("cbdn", "n_tokens_bpe", "ps", "pw")},
               |ds AS (
               |  SELECT doc_id, shard, cum - n_tokens AS doc_start FROM pw
               |)
               |SELECT tk.doc_id, ds.shard,
               |  CAST((ds.doc_start + tk.pos) // ${TextOps.PackBudget} AS BIGINT) AS seq_id,
               |  CAST((ds.doc_start + tk.pos) % ${TextOps.PackBudget} AS BIGINT) AS seq_pos,
               |  ${TextOps.bpeTokenIdCaseSql} AS token_id
               |FROM tk
               |JOIN ds USING (doc_id)
               |LEFT JOIN pm ON pm.product = tk.tok""".stripMargin)
      }.toMap

}
