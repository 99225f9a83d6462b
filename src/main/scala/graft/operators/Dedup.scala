package graft.operators

import graft.operators.Materialize.MatOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication suite — the LLM-training-pipeline extension ops
  * (BASELINE.json north star): exact, blocked n-gram Jaccard, MinHash+LSH,
  * SimHash. All pure Column expressions / relational ops — no UDFs — so
  * every stage is codegen'd and shuffles carry only what each stage needs.
  *
  * Scale design (100 TB of documents):
  * - exact: group by a 128-bit hash of the text, never by the text itself
  *   (the shuffle carries 16 bytes + ids, not document bodies).
  * - minhash: signatures are k longs per doc; LSH banding turns all-pairs
  *   (quadratic) into per-bucket candidate generation (near-linear for
  *   non-pathological corpora). Oversized buckets (degenerate shingles,
  *   boilerplate) are capped — documented precision/recall tradeoff knob.
  * - simhash: one 64-bit fingerprint per doc via a single aggregation
  *   (64 conditional sums, no row amplification), then 16-bit band
  *   blocking for hamming-≤k candidate pairs.
  * - verification joins carry token/shingle arrays only for candidate
  *   pairs, never all-pairs.
  */
object Dedup {

  /** Whitespace tokenization (the corpus is single-space word text; a
    * production corpus would normalize punctuation first — see
    * TextAnalysis.normalizeText). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles from raw text, empty array when the doc has
    * < n tokens. Native codegen'd expression (the built-in
    * transform/slice/array_join form runs interpreted and gets
    * re-evaluated inside join predicates — see
    * graft.functions.WordShingles). */
  def shinglesFromText(text: Column, n: Int): Column =
    graft.functions.WordShingles(text, n)

  /** Exact set Jaccard of two string arrays (distinct semantics, 0.0 on
    * empty union) — native codegen'd expression. */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.JaccardSimilarity(a, b)

  /** Exact dedup: one representative (min id) per distinct text, keyed by
    * md5 so the shuffle never carries bodies. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-group duplication audit — the observability rollup a
    * continuously-curated corpus tracks per source/domain: how many
    * docs each group contributed and how many of them lose [[exact]]'s
    * keep-min-id race (i.e. would drop under GLOBAL exact dedup; a
    * doc's canonical may live in ANOTHER group, which is precisely
    * what per-source drop rates surface — a mirror site reads as ~100%
    * dropped against the original it copies). Scale shape: one
    * scan-side md5 projection; firsts via partial-agg groupBy on the
    * 16-byte hash; attribution joins keep_id back on the hash (hashes
    * + ids only, never bodies); the rollup is a partial agg down to
    * |groups| rows. */
  def duplicationBy(docs: DataFrame, idCol: String, textCol: String,
      byCol: String): DataFrame = {
    val keyed = docs.select(col(byCol), col(idCol),
      md5(col(textCol)).as("text_hash"))
    val firsts = keyed.groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"))
    keyed.join(firsts, Seq("text_hash"))
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col(idCol) =!= col("keep_id"), 1L).otherwise(0L))
          .as("n_dropped"))
  }

  /** Ingest-time (incremental) exact dedup — the batch-merge form a
    * continuously-fed corpus needs: survivors of a NEW batch against an
    * already-ingested corpus, where a survivor is (a) the first
    * occurrence of its text within the batch (min id) and (b) absent
    * from the seen corpus. Scale shape: everything keys on the 128-bit
    * md5 of the text — the within-batch firsts are a partial-agg
    * groupBy and the corpus check is a LEFT ANTI join, so shuffles
    * carry 16-byte hashes + ids, never document bodies, and the seen
    * side streams through the join without materializing text. */
  def incrementalExact(batch: DataFrame, seen: DataFrame,
      idCol: String, textCol: String): DataFrame =
    batch
      .select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as(idCol))
      .join(seen.select(md5(col(textCol)).as("text_hash")),
        Seq("text_hash"), "left_anti")

  /** Bloom-gated incremental exact dedup — [[incrementalExact]]'s
    * exact output, computed WITHOUT ever shuffling the seen corpus.
    *
    * [[incrementalExact]]'s LEFT ANTI join shuffles the full seen-side
    * hash set on every batch (16 bytes × |corpus| — at 10⁹ docs, tens
    * of GB re-shuffled per ingest batch forever). Here a Bloom filter
    * of the seen hashes (built once per corpus snapshot by a
    * distributed aggregation; bits sized by `fpp`) gates the batch
    * SCAN-SIDE via the native [[graft.functions.BloomContains]]
    * expression: definite-new rows (no false negatives exist) pass
    * straight through, and only the tiny maybe set — true dups plus
    * fpp·|batch| false positives — is confirmed exactly, with the
    * maybe-hash set BROADCAST onto a seen scan (left semi) and the
    * confirmed-dup set broadcast back for the anti join. The seen
    * corpus is scanned, never shuffled; output is EXACT regardless of
    * fpp (false positives die in the confirm join), so the oracle is
    * the same SQL as dedup_incremental — zero drift allowed.
    *
    * `expectedSeen` sizes the filter; pass the corpus count a real
    * pipeline already tracks (≤ 0 → one count() pass here). At corpus
    * scale the filter is built once and reused across batches (the
    * BandStore maintenance pattern), not per call. */
  def incrementalExactBloom(batch: DataFrame, seen: DataFrame,
      idCol: String, textCol: String, fpp: Double = 0.01,
      expectedSeen: Long = -1L): DataFrame = {
    // non-null view: md5(null) rows never enter the sketch (the
    // aggregation skips nulls) nor the confirm join, so they must not
    // inflate the sizing count — and a corpus of ONLY null texts has
    // zero aggregable hashes, same no-sketch case as an empty one
    val seenHashes = seen.select(md5(col(textCol)).as("text_hash"))
      .filter(col("text_hash").isNotNull)
    val n = if (expectedSeen > 0) expectedSeen else seenHashes.count()
    // no non-null seen hash: every batch first is definite-new, and
    // the bloom aggregation itself yields no sketch over zero rows
    if (n == 0) return batchFirsts(batch, idCol, textCol)
    incrementalExactBloomWith(batch, seen,
      seenHashes.stat.bloomFilter("text_hash", n, fpp), idCol, textCol)
  }

  /** Prebuilt-sketch form: at scale the filter is the corpus-snapshot
    * artifact, built once and probed per batch — this form takes it as
    * a parameter so callers (and the bench) pay the build once. */
  def incrementalExactBloomWith(batch: DataFrame, seen: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      idCol: String, textCol: String): DataFrame =
    gatedIncrementalExact(batch, seen,
      graft.functions.BloomContains(col("text_hash"), bloom), idCol, textCol)

  /** Store-backed gate form: the PERSISTED, incrementally-merged
    * sharded sketch ([[BloomStore]]) replaces the per-snapshot filter
    * build — no corpus aggregation ever runs here; the store merged
    * each accepted batch's own small filter as it committed. Output is
    * [[incrementalExact]]'s exactly (the sharded gate only routes;
    * false positives die in the confirm join, false negatives cannot
    * exist), so the oracle is the same SQL — zero drift. Before the
    * store's first merge the gate is literal false: every batch first
    * is definite-new, which is also exact. */
  def incrementalExactBloomFromStore(batch: DataFrame, seen: DataFrame,
      store: BloomStore, idCol: String, textCol: String): DataFrame =
    gatedIncrementalExact(batch, seen,
      store.mightContain(col("text_hash")), idCol, textCol)

  // the shared bloom-routed tail: definite-new passes the scan-side
  // gate straight through; the tiny maybe set is confirmed exactly
  // against a seen scan (broadcast semi + anti) — the seen corpus is
  // scanned, never shuffled, and the output is exact at any fpp
  private def gatedIncrementalExact(batch: DataFrame, seen: DataFrame,
      gate: Column, idCol: String, textCol: String): DataFrame = {
    val seenHashes = seen.select(md5(col(textCol)).as("text_hash"))
    val firsts = batchFirsts(batch, idCol, textCol)
    // null-safe routing: a null text (null hash) can never match a seen
    // row in the anti-join form, so it must reach the output here too —
    // a bare filter on the null-intolerant gate would silently drop it
    // from BOTH branches (zero-drift contract with dedup_incremental)
    val contains = coalesce(gate, lit(false))
    val definiteNew = firsts.filter(!contains)
    val maybes = firsts.filter(contains)
    val confirmed = seenHashes
      .join(broadcast(maybes.select(col("text_hash"))), Seq("text_hash"), "left_semi")
      .distinct()
    val stillNew = maybes.join(broadcast(confirmed), Seq("text_hash"), "left_anti")
    definiteNew.union(stillNew)
  }

  /** Within-batch firsts keyed by text md5 — the shared head of both
    * incremental-exact forms; consumed by two branches on the bloom
    * path, hence the lazy checkpoint of the narrow (hash, id) rows. */
  private def batchFirsts(batch: DataFrame, idCol: String,
      textCol: String): DataFrame =
    batch
      .select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as(idCol))
      .seamCheckpoint(false)

  /** Default minimum duplicated run length for [[duplicateSpans]], in
    * tokens — shared with the generated oracle SQL. (Production corpora
    * use ~50; the synthetic docs run 10-99 tokens, so the registered
    * query keeps the property testable.) */
  val DupSpanTokens = 8

  /** Exact repeated-substring span detection — the TOKEN-level dedup
    * pass large-scale curation runs after DOCUMENT-level dedup: find
    * every maximal span of >= k consecutive tokens that occurs more
    * than once anywhere in the corpus (other documents or elsewhere in
    * the same document) — boilerplate headers, license blocks, quoted
    * chunks that document-granularity passes cannot see. Output: one
    * row per maximal duplicated span, (doc_id, span_start token
    * offset, span_tokens length); overlapping and adjacent duplicated
    * k-token windows merge into the maximal span (gaps-and-islands
    * over token positions).
    *
    * Scale shape: tokenize + window-hash is scan-side (the native
    * [[shinglesFromText]] expression, position-ordered, one md5 per
    * window) and the shuffle carries (doc_id, pos, 32-char hex) rows —
    * never text bodies. "Occurs more than once" is a partial-agg
    * groupBy(gram) (map-side combine collapses each partition's
    * repeats before the exchange) + LEFT SEMI join back onto the gram
    * rows: a membership test, not a pairing, so a mass-repeated window
    * (boilerplate in millions of docs) costs LINEAR rows on one key —
    * AQE's skew-join split applies, and no quadratic candidate
    * blow-up exists on this path (contrast the banding paths, which
    * pair within buckets and need the bucket cap). The corpus is
    * scanned twice (once per semi-join side) — at scale that beats
    * materializing the O(total tokens) gram table. The island merge
    * windows by doc_id ordered by pos: per-DOCUMENT state, bounded by
    * document length, never corpus-wide. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = DupSpanTokens): DataFrame = {
    val grams = spanGrams(docs, idCol, textCol, k)
    val dup = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .select(col("gram"))
    mergeIslandSpans(grams.join(dup, Seq("gram"), "left_semi"), idCol, k)
  }

  /** The k-token windows of a corpus, one row per position:
    * (id, pos, gram = md5 hex of the space-joined window) — the rows
    * [[duplicateSpans]] detects over and a [[GramStore]] persists. */
  def spanGrams(docs: DataFrame, idCol: String, textCol: String,
      k: Int = DupSpanTokens, fan: Boolean = true): DataFrame = {
    // Fan the (id, text) rows out to cluster parallelism before the
    // gram explode + per-gram digests (scale-guarded — see ScalePolicy):
    // a narrow input would hash every gram single-task, and every
    // consumer that next groups or windows by the id (winnow
    // selection, per-doc type dedup) reuses this exchange.
    // `fan = false` is the INGEST-BATCH side of the incremental
    // probes: a per-trigger micro-batch is bounded and arrives with
    // the stream's own partitioning, so a forced exchange there costs
    // more than it buys (r17 same-session A/B: +0.3-0.6 s per probe
    // at sf0.1); a caller with a corpus-sized batch fans it out ONCE
    // at the ingest seam instead of per probe.
    val base = docs.select(col(idCol), col(textCol))
    (if (fan) ScalePolicy.fanOut(base, col(idCol)) else base)
      .select(col(idCol), posexplode(shinglesFromText(col(textCol), k)))
      .select(col(idCol), col("pos"), md5(col("col")).as("gram"))
  }

  /** Per-document n-gram novelty — the memorization-risk datacard row:
    * what fraction of a doc's k-gram TYPES appear in no other document.
    * Low novelty = the doc is assembled from corpus-shared runs (high
    * verbatim-memorization risk, near-dup escapee, or template text);
    * [[duplicateSpans]] REPORTS the shared runs positionally, this
    * scores their mass per doc in one number a floor can bind on.
    * Sharing is cross-doc by DISTINCT-document count (a within-doc
    * repeat is repetition, not memorization — [[TextAnalysis
    * .gopherRepetition]]'s beat). Docs with fewer than k tokens have no
    * grams and no row.
    *
    * Scale shape: gram explode is scan-side (the [[spanGrams]] shape);
    * per-doc TYPE dedup is a partial-agg distinct; the docs-per-gram
    * count partial-aggregates before one shuffle on the open gram
    * domain and joins back by shuffle merge. The fraction is one
    * division, rounded to 4. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      k: Int = DupSpanTokens): DataFrame = {
    val dg = spanGrams(docs, idCol, textCol, k)
      .select(col(idCol), col("gram")).distinct()
    val gd = dg.groupBy(col("gram")).agg(count(lit(1)).as("nd"))
    val shared = sum(when(col("nd") > 1, 1L).otherwise(0L))
    dg.join(gd.hint("merge"), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_gram_types"),
        shared.as("n_shared_types"),
        round((count(lit(1)) - shared).cast("double") /
          count(lit(1)).cast("double"), 4).as("novelty_frac"))
  }

  // gaps-and-islands merge of duplicated window positions into maximal
  // spans — per-DOCUMENT window state, bounded by document length;
  // shared by the full-corpus and incremental span detectors (and the
  // span-granular decontamination in TextAnalysis, which marks
  // positions by benchmark-shingle membership instead of corpus
  // duplication) so their outputs can only differ in which positions
  // are marked
  private[graft] def mergeIslandSpans(marked: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    marked
      .withColumn("prev", lag(col("pos"), 1).over(w))
      // a window starting <= k after the previous duplicated window
      // overlaps-or-abuts it: same island, one maximal span
      .withColumn("step",
        when(col("prev").isNull || col("pos") - col("prev") > k, 1)
          .otherwise(0))
      .withColumn("island", sum(col("step")).over(w))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k) - min(col("pos"))).as("span_tokens"))
      .select(col(idCol), col("span_start").cast("long").as("span_start"),
        col("span_tokens").cast("long").as("span_tokens"))
  }

  /** Incremental [[duplicateSpans]]: the spans of a NEW batch's docs
    * that the FULL-corpus detector would emit, computed without
    * re-windowing the seen corpus — `seenGrams` is the seen side's
    * (…, gram) rows, in practice a persisted [[GramStore]] scan. A
    * batch window is duplicated iff it repeats WITHIN the batch
    * (partial-agg count > 1) or occurs anywhere in the seen corpus
    * (LEFT SEMI membership against `seenGrams` — multiplicity and
    * extra columns there are irrelevant). Output == full-corpus
    * [[duplicateSpans]] over seen ∪ batch restricted to batch ids,
    * exactly (the per-doc island merge only sees batch rows either
    * way).
    *
    * Scale shape: the batch's gram table is computed once behind a
    * lazy narrow localCheckpoint (three consumers: internal count,
    * seen membership, island merge). Both duplicate tests are
    * membership-shaped — linear on a hot gram, no pairing, no bucket
    * cap needed — and the seen side is never re-scanned per consumer,
    * never shuffled when the store scan reports its gram bucketing. */
  def incrementalDuplicateSpansFrom(batch: DataFrame, seenGrams: DataFrame,
      idCol: String, textCol: String, k: Int = DupSpanTokens): DataFrame = {
    // fan = false: the batch is probe-sized by contract (see
    // spanGrams); its gram table is checkpointed right here, so a
    // large batch still hashes once — the caller decides parallelism
    val grams = spanGrams(batch, idCol, textCol, k, fan = false)
      .seamCheckpoint(false)
    val dupInternal = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .select(col("gram"))
    val dupSeen = grams.select(col("gram")).distinct()
      .join(seenGrams.select(col("gram")), Seq("gram"), "left_semi")
    val dup = dupInternal.union(dupSeen).distinct()
    mergeIslandSpans(grams.join(dup, Seq("gram"), "left_semi"), idCol, k)
  }

  /** Transform twin of [[duplicateSpans]]: rewrite each document with
    * every duplicated span's tokens REMOVED (the curation policy for
    * boilerplate — license blocks, repeated headers — where no
    * occurrence is the "canonical" one; corpus-level canonical-copy
    * retention is [[exact]]/near-dup dedup's job, which runs first in
    * the composed pipeline). Output: (id, clean text, n tokens
    * dropped); documents with no duplicated span pass through
    * unchanged with n_dropped = 0.
    *
    * Scale shape: span detection is [[duplicateSpans]] verbatim; the
    * rewrite re-keys tokens AND spans by document (one shuffle each —
    * rewriting text is inherently a per-document regroup), joins them
    * doc-equi (spans per doc are few; the range containment is a
    * post-join filter, never a cross product), and rebuilds the text
    * with an order-preserving aggregation. Nothing global, nothing
    * driver-side. */
  def stripDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = DupSpanTokens): DataFrame =
    stripSpans(docs, duplicateSpans(docs, idCol, textCol, k), idCol, textCol)

  /** The rewrite half of [[stripDuplicateSpans]] over PRECOMPUTED span
    * rows (idCol, span_start, span_tokens) — the ingest loops strip a
    * batch from its store-probed spans with it instead of re-detecting. */
  def stripSpans(docs: DataFrame, spanRows: DataFrame, idCol: String,
      textCol: String, fan: Boolean = true): DataFrame = {
    val spans = spanRows
      .select(col(idCol), col("span_start"), col("span_tokens"))
    // r18 (guide §2): the token posexplode is this operator's heavy
    // per-row work and otherwise runs at the scan's 1-2-partition
    // parallelism on a small input; hash(id) partitioning ALSO
    // satisfies the span join, the (id, pos) fold and the per-doc
    // rebuild below (id is a prefix of every key), so the one pinned
    // exchange serves the whole tail. fan = false for probe-sized
    // batches (the r17 probe-side lesson: a forced exchange costs more
    // than the single-task work it parallelizes); corpus-scale inputs
    // skip it via the ScalePolicy guard.
    val base = if (fan)
      ScalePolicy.fanOut(docs.select(col(idCol), col(textCol)), col(idCol))
    else docs
    val toks = base
      .select(col(idCol), posexplode(tokens(col(textCol))))
      .select(col(idCol), col("pos"), col("col").as("tok"))
    val marked = toks
      .join(spans, Seq(idCol), "left")
      .withColumn("in_span",
        col("span_start").isNotNull &&
          col("pos") >= col("span_start") &&
          col("pos") < col("span_start") + col("span_tokens"))
      // a token joined against several spans keeps one row: dropped iff
      // ANY covering span exists (spans are non-overlapping by island
      // maximality, but the doc-equi join still fans out per span row)
      .groupBy(col(idCol), col("pos"))
      .agg(first(col("tok")).as("tok"), max(col("in_span")).as("dropped"))
    marked
      .groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(
          when(!col("dropped"), struct(col("pos"), col("tok"))))),
          x => x("tok")), " ").as("clean_text"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"))
  }

  /** MinHash signature: k minimums over splitmix64-derived permutations
    * of the per-shingle xxhash64. One base-hash pass (built-in, then the
    * native one-pass MinhashSignature expression) — returns array<long>
    * of length k. */
  def minhashSignature(sh: Column, k: Int): Column =
    graft.functions.MinhashSignature(transform(sh, x => xxhash64(x)), k)

  /** MinHash + LSH banding: candidate pairs from shared (band, bandHash)
    * buckets, verified with exact shingle Jaccard ≥ `threshold`.
    *
    * k = bands * rows hashes. With 8 bands × 4 rows, P(candidate) at
    * j=0.8 is 1-(1-0.8^4)^8 ≈ 0.986 and ≈ 1.0 at j≥0.9.
    * `maxBucketSize` drops degenerate buckets (boilerplate shingles) to
    * bound the quadratic pair blow-up — precision knob at scale. */
  /** Shared bucket-cap → candidate-join → exact-Jaccard tail for both
    * the production (xxhash64 bands) and md5-twin LSH paths — ONE
    * implementation, so the gated twin pins exactly the pipeline the
    * production path runs. `banded`: (doc_id, band, band_key);
    * `withSh`: (doc_id, sh). */
  private[operators] def lshVerifiedPairs(banded: DataFrame, withSh: DataFrame,
      maxBucketSize: Int, threshold: Double): DataFrame =
    lshVerifiedPairsFrom(banded, None, withSh, maxBucketSize, threshold)

  /** Probe form of the LSH tail: candidates are (probe × all) bucket
    * co-residents, where all = probe ∪ `seenBanded` — the self-dedup
    * case passes `seenBanded = None`; the incremental case probes a new
    * batch's bands against the full-corpus view without ever
    * self-joining the corpus. Pairs are canonicalized (least, greatest)
    * before the distinct, so a batch-internal pair reached from both
    * endpoints emits once. `withSh` must cover every doc reachable from
    * either side. */
  private[operators] def lshVerifiedPairsFrom(probeBanded: DataFrame,
      seenBanded: Option[DataFrame], withSh: DataFrame,
      maxBucketSize: Int, threshold: Double,
      materializeSeen: Boolean = true): DataFrame = {
    // The banded table is consumed THREE times below (bucket count +
    // both candidate-join sides). Its lineage carries the signature
    // computation — the most expensive stage of the whole pipeline (k
    // digests/minima per doc) — and while the two join sides share one
    // exchange (identical subplans), the count branch would recompute
    // the signatures from the raw corpus. A LAZY localCheckpoint
    // materializes the narrow (doc_id, band, band_key) rows — ~24 bytes
    // × bands per doc, no text, no shingles — exactly once on first
    // use; blocks are executor-local and ContextCleaner-scoped (no
    // CacheManager leak, unlike persist()).
    // `materializeSeen = false` is for a seen side that is ALREADY
    // materialized storage (the persisted band table): re-reading a
    // bucketed parquet scan is cheaper than copying the whole corpus
    // band table into executor block storage.
    val probeCk = probeBanded.seamCheckpoint(false)
    val allCk = seenBanded match {
      case None => probeCk
      case Some(seen) =>
        probeCk.union(if (materializeSeen) seen.seamCheckpoint(false) else seen)
    }
    // Cap pathological buckets before pair generation — bucket size is
    // counted over the FULL corpus view, matching the self-dedup
    // semantics. The count is a partial aggregation (map-side combine)
    // — NOT a window count, which has no partial agg and ships every
    // row of a degenerate bucket into ONE unsplittable task just to
    // count-and-drop it (AQE cannot split a window partition; a
    // boilerplate bucket at 100 TB is a guaranteed straggler).
    // Oversized keys are a tiny set, so the anti-join broadcasts and
    // the banded rows never re-shuffle on the skewed key.
    val oversized = allCk
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
      .select(col("band"), col("band_key"))
    val a = probeCk.join(broadcast(oversized), Seq("band", "band_key"), "left_anti")
      .select(col("band"), col("band_key"), col("doc_id").as("probe_id"))
    val b = allCk.join(broadcast(oversized), Seq("band", "band_key"), "left_anti")
      .select(col("band"), col("band_key"), col("doc_id").as("other_id"))
    // Self-dedup generates each co-bucket pair ONCE (probe < other): a
    // size-m bucket emits m(m−1)/2 rows, not m(m−1) — this is the
    // hottest intermediate of the whole pipeline. Only the incremental
    // probe form needs both orientations canonicalized, because a
    // (seen, new) pair is reachable only from its probe endpoint.
    val candidates = (seenBanded match {
      case None =>
        a.join(b, Seq("band", "band_key"))
          .filter(col("probe_id") < col("other_id"))
          .select(col("probe_id").as("doc_a"), col("other_id").as("doc_b"))
      case Some(_) =>
        a.join(b, Seq("band", "band_key"))
          .filter(col("probe_id") =!= col("other_id"))
          .select(least(col("probe_id"), col("other_id")).as("doc_a"),
            greatest(col("probe_id"), col("other_id")).as("doc_b"))
    }).distinct()
    val shA = withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val shB = withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    candidates
      .join(shA, "doc_a").join(shB, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** (doc_id, band, band_key) production band table of a shingled
    * corpus — fused native shingle-hash → k minima → band hashes (one
    * pass). The xxhash64 sibling of [[md5BandedFrom]]; self-dedup and
    * the incremental probe share THIS one implementation, so the
    * "incremental == filtered self-dedup" equivalence the oracle gate
    * relies on cannot drift. */
  private[operators] def bandedFrom(withSh: DataFrame, bands: Int,
      rows: Int): DataFrame =
    withSh.select(
      col("doc_id"),
      posexplode(graft.functions.MinhashBands(col("sh"), bands, rows)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_key"))

  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 8,
      rows: Int = 4,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000): DataFrame = {
    val withSh = withShOf(docs, idCol, textCol, shingleN)
    lshVerifiedPairs(bandedFrom(withSh, bands, rows), withSh,
      maxBucketSize, threshold)
  }

  /** 64-bit SimHash per doc: token-frequency-weighted bit votes, folded
    * per row by the native codegen'd [[graft.functions.SimHash64]] — a
    * pure scan-side projection with no token explode and NO shuffle
    * (the old explode → groupBy(doc) formulation shuffled every token
    * hash; bit-exact equivalence is proven in
    * NativeExprEquivalenceSpec). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.SimHash64(col(textCol)).as("simhash"))

  /** Shared banding → bucket cap → candidate-join → exact-hamming tail
    * for both the production (64-bit/16-bit-band) and md5-twin
    * (60-bit/15-bit-band) simhash paths — ONE implementation, so the
    * gated twin pins exactly the pipeline the production path runs.
    * `fp`: (doc_id, simhash). Self-dedup form; the incremental probe
    * form is [[simhashBandPairsFrom]]. */
  private[operators] def simhashBandPairs(fp: DataFrame, bandBits: Int,
      nBands: Int, maxHamming: Int, maxBucketSize: Int): DataFrame =
    simhashBandPairsFrom(fp, None, bandBits, nBands, maxHamming, maxBucketSize)

  /** Probe form of the simhash band tail — [[lshVerifiedPairsFrom]]'s
    * topology over fingerprint banding: candidates are (probe × all)
    * band co-residents where all = probe ∪ `seenFp`; the self-dedup
    * case passes `seenFp = None`.
    *
    * Degenerate band buckets are capped BEFORE pair generation with the
    * same partial-agg count + broadcast anti-join as the MinHash-LSH
    * path: a mass-duplicated boilerplate corpus puts thousands of docs
    * on the IDENTICAL 64-bit fingerprint — identical band values on
    * EVERY band — and the band join would otherwise emit an m²/2-row
    * candidate blow-up that no AQE split can undo (the quadratic
    * intermediate itself is the hazard, not just its partitioning).
    * Same documented recall tradeoff as the LSH `maxBucketSize`: pairs
    * inside a dropped bucket are missed on that band — and since
    * identical fingerprints share ALL bands, a mass-dup family over the
    * cap is dropped entirely, which is exactly the boilerplate case the
    * cap exists for (route such corpora through exact dedup first). */
  private[operators] def simhashBandPairsFrom(probeFp: DataFrame,
      seenFp: Option[DataFrame], bandBits: Int, nBands: Int,
      maxHamming: Int, maxBucketSize: Int): DataFrame = {
    // The fingerprint table feeds three consumers (bucket count + both
    // join sides). It is 16 bytes/doc, and on the md5-twin path its
    // lineage carries the token-explode vote aggregation — a lazy
    // localCheckpoint materializes it once (same rationale as the LSH
    // banded checkpoint above; production fingerprints are a scan-side
    // projection, where the checkpoint still saves two corpus scans).
    val probeCk = probeFp.seamCheckpoint(false)
    val seenBanded = seenFp.map(seen =>
      simhashBandedOf(seen.seamCheckpoint(false), bandBits, nBands))
    simhashBandTail(simhashBandedOf(probeCk, bandBits, nBands), seenBanded,
      maxHamming, maxBucketSize)
  }

  /** (doc_id, simhash, band, band_val) banded fingerprint rows — the
    * banding is cheap bit arithmetic over the 16-byte fingerprint, so
    * unlike the MinHash band table this carries the fingerprint itself:
    * the hamming verification then needs no second corpus join at all. */
  private[operators] def simhashBandedOf(fp: DataFrame, bandBits: Int,
      nBands: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    val bandCols = (0 until nBands).map { j =>
      struct(lit(j).as("band"),
        shiftright(col("simhash"), j * bandBits).bitwiseAND(lit(mask)).as("band_val"))
    }
    fp.select(col("doc_id"), col("simhash"),
        explode(array(bandCols: _*)).as("bv"))
      .select(col("doc_id"), col("simhash"),
        col("bv.band").as("band"), col("bv.band_val").as("band_val"))
  }

  /** Shared banding tail: bucket cap → candidate join → exact hamming.
    * `seenBanded` may be a freshly-banded fingerprint table or the
    * persisted [[SimhashStore]] scan — either way it is consumed twice
    * (bucket count + join side) without re-deriving fingerprints. */
  private[operators] def simhashBandTail(probeBanded: DataFrame,
      seenBanded: Option[DataFrame], maxHamming: Int,
      maxBucketSize: Int): DataFrame = {
    val allBanded = seenBanded match {
      case None => probeBanded
      case Some(seen) => probeBanded.unionByName(seen.select(
        col("doc_id"), col("simhash"), col("band"), col("band_val")))
    }
    // Bucket sizes counted over the FULL corpus view as a partial agg
    // (map-side combine), NEVER a window count — see lshVerifiedPairsFrom.
    val oversized = allBanded
      .groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
      .select(col("band"), col("band_val"))
    val a = probeBanded.join(broadcast(oversized), Seq("band", "band_val"), "left_anti")
      .select(col("band"), col("band_val"),
        col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = allBanded.join(broadcast(oversized), Seq("band", "band_val"), "left_anti")
      .select(col("band"), col("band_val"),
        col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    val joined = a.join(b, Seq("band", "band_val"))
    // Hamming is symmetric, so it is computed before id canonicalization.
    // Self-dedup emits each co-bucket pair once (probe < other); only
    // the probe form needs both orientations canonicalized, because a
    // (seen, new) pair is reachable only from its probe endpoint.
    val pairs = seenBanded match {
      case None =>
        joined.filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      case Some(_) =>
        joined.filter(col("doc_a") =!= col("doc_b"))
          .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
            greatest(col("doc_a"), col("doc_b")).as("doc_b"),
            expr("bit_count(sh_a ^ sh_b)").as("hamming"))
    }
    pairs.distinct().filter(col("hamming") <= maxHamming)
  }

  /** Default band-bucket cap for the simhash candidate join, shared
    * with the generated oracle SQL (DedupOps interpolates this same
    * constant — the NgramMaxBlockSize pattern). */
  val SimhashMaxBucketSize = 1000

  /** SimHash near-dup pairs: 16-bit band blocking (any pair within
    * hamming ≤ 3 of a 64-bit hash shares at least one of 4 exact 16-bit
    * bands — pigeonhole), verified with exact bit_count(xor) ≤ maxHamming. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = SimhashMaxBucketSize): DataFrame =
    simhashBandPairs(simhash(docs, idCol, textCol),
      bandBits = 16, nBands = 4, maxHamming = maxHamming,
      maxBucketSize = maxBucketSize)

  /** Incremental (batch-merge) SimHash near-dup — production-hash twin:
    * a NEW batch's fingerprint bands probed against the full-corpus
    * view, same probe topology and guarantees as
    * [[incrementalMinhashLsh]] ((seen, new) pairs once, batch-internal
    * pairs once, (seen, seen) never re-paired; equivalent to the full
    * self-dedup filtered to pairs touching the batch). */
  def incrementalSimhash(batch: DataFrame, seen: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 3,
      maxBucketSize: Int = SimhashMaxBucketSize): DataFrame =
    simhashBandPairsFrom(simhash(batch, idCol, textCol),
      Some(simhash(seen, idCol, textCol)),
      bandBits = 16, nBands = 4, maxHamming = maxHamming,
      maxBucketSize = maxBucketSize)

  /** Public production banded-fingerprint entry for [[SimhashStore]]
    * maintenance: the (doc_id, simhash, band, band_val) rows of a
    * corpus or an accepted batch — exactly the artifact the store
    * persists (the fingerprint rides along, so the probe needs no
    * second corpus join for the hamming verification). */
  def simhashBands(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    simhashBandedOf(simhash(docs, idCol, textCol), bandBits = 16, nBands = 4)

  /** Store-backed incremental SimHash near-dup (production hash): the
    * seen corpus's PERSISTED banded-fingerprint table is probed instead
    * of re-fingerprinting the seen side — the 100 TB form of
    * [[incrementalSimhash]], same output. */
  def incrementalSimhashFromStore(batch: DataFrame, seenBanded: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 3,
      maxBucketSize: Int = SimhashMaxBucketSize): DataFrame =
    simhashBandTail(
      simhashBandedOf(simhash(batch, idCol, textCol).seamCheckpoint(false),
        bandBits = 16, nBands = 4),
      Some(seenBanded), maxHamming = maxHamming,
      maxBucketSize = maxBucketSize)

  // --- md5-derived oracle twins -------------------------------------
  // The production minhash/simhash paths hash with xxhash64, which has
  // no DuckDB equivalent → rows-only at the driver gate. These twins
  // run the IDENTICAL banding + candidate + verification pipeline over
  // a 60-bit hash derived from md5 (first 15 hex chars → BIGINT,
  // computable bit-identically in DuckDB), giving the pair logic a full
  // value-level cross-engine gate. Knobs are shared with the generated
  // oracle SQL (DedupOps) so the two sides can't drift.
  val Md5TwinBands = 4
  val Md5TwinRows = 2
  val Md5SimhashBits = 60 // 15 hex chars of md5
  val Md5SimhashBandBits = 15 // 4 bands × 15 bits; pigeonhole hamming ≤ 3
  val Md5SimhashMaxHamming = 3

  /** 60-bit hash from the first 15 hex chars of md5 — fits a signed
    * int64 in both engines (DuckDB: ('0x' || substr(md5(x),1,15))::BIGINT). */
  def md5h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** MinHash+LSH with md5-derived signatures (oracle twin of
    * [[minhashLsh]]): k = bands·rows independent minima, signature i
    * hashing shingles with salt prefix "i#". Same banding → bucket cap
    * → candidate join → exact-Jaccard verification as the production
    * path; only the hash family differs. */
  /** (doc_id, sh) shingle table — the shared head of every LSH path.
    *
    * r17: the scale-adaptive fan-out moved HERE from [[md5BandedFrom]]
    * and now sits BELOW the shingle projection: the old placement
    * repartitioned the already-shingled rows, so the shingling itself
    * (split + slide + concat per token) still ran inside the 1-2
    * scan partitions of a small input — measured as the dominant
    * single-task job of every LSH-backed query at sf0.1. Projecting
    * to (id, text) first keeps the exchange narrow (guide §2.3);
    * shingles, digests and minima all run post-exchange at cluster
    * parallelism. [[ScalePolicy.fanOut]] skips the shuffle entirely when
    * the input is already at least default-parallelism partitioned
    * (the 100 TB case). */
  private[operators] def withShOf(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame = {
    val projected =
      docs.select(col(idCol).as("doc_id"), col(textCol).as("__sh_text"))
    val small = ScalePolicy.narrow(projected)
    val sh = ScalePolicy.fanOut(projected, col("doc_id"))
      .select(col("doc_id"),
        shinglesFromText(col("__sh_text"), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
    // Small inputs additionally materialize the shingle table ONCE
    // (lazy checkpoint): every LSH query consumes it three ways —
    // banding/digests plus BOTH sides of the Jaccard verification join
    // — and without this each consumer re-shingles the corpus from the
    // raw scan (two of them inside single-threaded broadcast builds).
    // At scale (input already >= cluster parallelism) the checkpoint
    // is SKIPPED: materializing a corpus-sized shingle table (~N× the
    // text bytes) trades a cheap rescan for massive block storage —
    // there the three consumers recompute the scan-side projection,
    // which is the documented banded-checkpoint design.
    if (small) sh.seamCheckpoint(false) else sh
  }

  def minhashLshMd5(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = NgramShingleN, bands: Int = Md5TwinBands,
      rows: Int = Md5TwinRows, threshold: Double = NgramThreshold,
      maxBucketSize: Int = NgramMaxBlockSize): DataFrame = {
    val withSh = withShOf(docs, idCol, textCol, shingleN)
    lshVerifiedPairs(md5BandedFrom(withSh, bands, rows), withSh,
      maxBucketSize, threshold)
  }

  /** Public (doc_id, sh) shingle table — backs the verification join
    * of the store-backed probe (at corpus scale, persist it alongside
    * the band table instead of recomputing from raw text). */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = NgramShingleN): DataFrame =
    withShOf(docs, idCol, textCol, shingleN)

  /** Public banding entry for [[BandStore]] maintenance: the
    * (doc_id, band, band_key) md5-twin band rows of a corpus or an
    * accepted batch — exactly the artifact the store persists. */
  def md5Bands(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = NgramShingleN, bands: Int = Md5TwinBands,
      rows: Int = Md5TwinRows): DataFrame =
    md5BandedFrom(withShOf(docs, idCol, textCol, shingleN), bands, rows)

  /** (doc_id, band, band_key) md5-twin band table of a shingled corpus
    * — the persisted artifact an incremental pipeline maintains. */
  private[operators] def md5BandedFrom(withSh: DataFrame,
      bands: Int = Md5TwinBands, rows: Int = Md5TwinRows): DataFrame = {
    val k = bands * rows
    // k per-shingle hashes as codegen'd projections after an explode,
    // folded by min-aggregates (map-side combine) — NOT a per-row
    // transform() lambda, which would run through the higher-order
    // interpreter k times per document. Each md5 yields TWO independent
    // 60-bit values (hex chars 1-15 and 17-31), so k signatures cost
    // k/2 digests; the shuffle carries only |docs|·k partial minima.
    // Parallelism: [[withShOf]] fans the (id, text) rows out to
    // cluster parallelism before shingling (r17 — the repartition
    // previously lived here, above the shingle projection, which left
    // the shingling itself single-task on small inputs), so the
    // explode + digests + min-agg below inherit that partitioning.
    val exploded = withSh.select(col("doc_id"), explode(col("sh")).as("s"))
    val digests = (0 until (k + 1) / 2).map(i =>
      md5(concat(lit(s"$i#"), col("s"))).as(s"m$i"))
    val hashCols = (0 until k).map(j =>
      conv(substring(col(s"m${j / 2}"), 1 + (j % 2) * 16, 15), 16, 10)
        .cast("long").as(s"h$j"))
    val mins = (0 until k).map(i => min(col(s"h$i")).as(s"sig$i"))
    val sigged = exploded.select(col("doc_id") +: digests: _*)
      .select(col("doc_id") +: hashCols: _*)
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rows).map(r => col(s"sig${b * rows + r}")): _*)
          .as("band_key"))
    }
    sigged
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Incremental (batch-merge) MinHash near-dup — what a continuously
    * fed corpus actually runs: a NEW batch's bands probed against the
    * full-corpus view (seen ∪ batch), WITHOUT self-joining the corpus.
    * Emits every verified pair touching the batch — (seen, new) pairs
    * once from the probe side, batch-internal pairs once via the
    * canonicalized distinct — and never a (seen, seen) pair: the
    * already-deduped corpus is not re-paired. Equivalent to filtering
    * the full self-dedup's output to pairs touching the batch (that
    * equivalence is the oracle gate), at the cost of |batch| probes
    * instead of a corpus-wide self-join.
    *
    * At 100 TB the seen side is the PERSISTED band table (16-byte keys
    * + ids, maintained incrementally — the md5 twin of it is
    * [[md5BandedFrom]]'s output) and the seen shingle table backs only
    * the verification join for candidate ids; this convenience form
    * recomputes both from the raw corpus. xxhash64 production twin:
    * [[incrementalMinhashLsh]]. */
  def incrementalMinhashLshMd5(batch: DataFrame, seen: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = NgramShingleN, bands: Int = Md5TwinBands,
      rows: Int = Md5TwinRows, threshold: Double = NgramThreshold,
      maxBucketSize: Int = NgramMaxBlockSize): DataFrame = {
    val shNew = withShOf(batch, idCol, textCol, shingleN)
    val shSeen = withShOf(seen, idCol, textCol, shingleN)
    lshVerifiedPairsFrom(md5BandedFrom(shNew, bands, rows),
      Some(md5BandedFrom(shSeen, bands, rows)), shNew.union(shSeen),
      maxBucketSize, threshold)
  }

  /** Store-backed incremental MinHash near-dup — what
    * [[incrementalMinhashLshMd5]]'s scaladoc promises for 100 TB: the
    * seen side is the PERSISTED band table ([[BandStore]] /
    * [[md5BandedFrom]]'s (doc_id, band, band_key) output, bucketed by
    * band_key), so NO signature computation runs over the seen corpus —
    * the dominant per-batch cost of the convenience form, repeated on
    * every probe, disappears. `seenSh` backs only the verification join
    * ((doc_id, sh) for seen docs; the candidate join prunes it to
    * candidate ids — at corpus scale persist it alongside the band
    * table, or pass seen docs semi-joined to the probe's candidates).
    * Output is identical to [[incrementalMinhashLshMd5]] on the same
    * (batch, seen) split — pinned by BandStoreSpec. */
  def incrementalMinhashLshMd5FromStore(batch: DataFrame,
      seenBanded: DataFrame, seenSh: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = NgramShingleN, bands: Int = Md5TwinBands,
      rows: Int = Md5TwinRows, threshold: Double = NgramThreshold,
      maxBucketSize: Int = NgramMaxBlockSize): DataFrame = {
    val shNew = withShOf(batch, idCol, textCol, shingleN)
    lshVerifiedPairsFrom(md5BandedFrom(shNew, bands, rows),
      Some(seenBanded.select(col("doc_id"), col("band"), col("band_key"))),
      shNew.union(seenSh), maxBucketSize, threshold,
      // the stored band table is already materialized storage — do not
      // copy the corpus band table into executor block memory
      materializeSeen = false)
  }

  /** Production-hash ([[graft.functions.MinhashBands]], xxhash64)
    * banding entry for [[BandStore]] maintenance — band_key cast to
    * string so both hash families persist under the one store schema
    * (the cast preserves equality: distinct longs ⇄ distinct strings). */
  def minhashBandTable(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 8, rows: Int = 4): DataFrame =
    bandedFrom(withShOf(docs, idCol, textCol, shingleN), bands, rows)
      .withColumn("band_key", col("band_key").cast("string"))

  /** Production-hash twin of [[incrementalMinhashLshMd5FromStore]]:
    * probe a new batch's xxhash64 bands against the persisted band
    * table — no signature recompute over the seen corpus. */
  def incrementalMinhashLshFromStore(batch: DataFrame,
      seenBanded: DataFrame, seenSh: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 8, rows: Int = 4,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    val shNew = withShOf(batch, idCol, textCol, shingleN)
    lshVerifiedPairsFrom(
      bandedFrom(shNew, bands, rows)
        .withColumn("band_key", col("band_key").cast("string")),
      Some(seenBanded.select(col("doc_id"), col("band"), col("band_key"))),
      shNew.union(seenSh), maxBucketSize, threshold,
      materializeSeen = false)
  }

  /** Production-hash (xxhash64 [[graft.functions.MinhashBands]]) twin of
    * [[incrementalMinhashLshMd5]] — same probe topology, engine-native
    * signatures. */
  def incrementalMinhashLsh(batch: DataFrame, seen: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 8, rows: Int = 4,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    val shNew = withShOf(batch, idCol, textCol, shingleN)
    val shSeen = withShOf(seen, idCol, textCol, shingleN)
    lshVerifiedPairsFrom(bandedFrom(shNew, bands, rows),
      Some(bandedFrom(shSeen, bands, rows)),
      shNew.union(shSeen), maxBucketSize, threshold)
  }

  /** SimHash near-dup pairs with a 60-bit md5-derived fingerprint
    * (oracle twin of [[simhashPairs]]): token-occurrence-weighted bit
    * votes (+1 if bit set, −1 otherwise; bit set on vote > 0 — the
    * SimHash64 convention), 4 × 15-bit pigeonhole bands, exact
    * bit_count(xor) ≤ maxHamming verification. The 60 bit-vote sums are
    * declarative aggregates (codegen'd), unlike the per-char interpreted
    * fold this module replaced in round 2. */
  /** (doc_id, simhash) 60-bit md5-derived fingerprint table — the
    * md5-twin sibling of [[simhash]], shared by the self-dedup and
    * incremental probe forms. */
  private[operators] def md5SimhashFp(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // fan-out before the per-token digests (scale-guarded, see
    // ScalePolicy); the vote aggregation below groups by doc_id and reuses
    // the exchange
    val tok = ScalePolicy.fanOut(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")),
        col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("__t"))).as("tok"))
      .select(col("doc_id"), md5h60(col("tok")).as("h"))
    val votes = (0 until Md5SimhashBits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$j")
    }
    val agg = tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    agg.select(col("doc_id"),
      (0 until Md5SimhashBits)
        .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  def simhashMd5Pairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = Md5SimhashMaxHamming,
      maxBucketSize: Int = SimhashMaxBucketSize): DataFrame =
    simhashBandPairs(md5SimhashFp(docs, idCol, textCol),
      bandBits = Md5SimhashBandBits,
      nBands = Md5SimhashBits / Md5SimhashBandBits,
      maxHamming = maxHamming, maxBucketSize = maxBucketSize)

  /** Incremental (batch-merge) SimHash near-dup, md5 twin of
    * [[incrementalSimhash]] — the DuckDB-gateable form: the oracle is
    * the full simhash self-dedup oracle filtered to pairs touching the
    * batch (the same equivalence the minhash probe gate relies on —
    * fingerprints are per-doc, so banding and the full-view bucket
    * count are identical between the probe and self-dedup runs). */
  def incrementalSimhashMd5(batch: DataFrame, seen: DataFrame,
      idCol: String, textCol: String,
      maxHamming: Int = Md5SimhashMaxHamming,
      maxBucketSize: Int = SimhashMaxBucketSize): DataFrame =
    simhashBandPairsFrom(md5SimhashFp(batch, idCol, textCol),
      Some(md5SimhashFp(seen, idCol, textCol)),
      bandBits = Md5SimhashBandBits,
      nBands = Md5SimhashBits / Md5SimhashBandBits,
      maxHamming = maxHamming, maxBucketSize = maxBucketSize)

  /** md5-twin sibling of [[simhashBands]] — the gateable banded
    * fingerprint rows a [[SimhashStore]] persists for the oracle path. */
  def md5SimhashBands(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    simhashBandedOf(md5SimhashFp(docs, idCol, textCol),
      bandBits = Md5SimhashBandBits,
      nBands = Md5SimhashBits / Md5SimhashBandBits)

  /** Store-backed incremental SimHash near-dup, md5 twin of
    * [[incrementalSimhashFromStore]] — under the IDENTICAL oracle as
    * [[incrementalSimhashMd5]]: the probe must emit exactly the same
    * pair set, with zero fingerprint work over the seen side
    * (SimhashStoreSpec pins that plan). */
  def incrementalSimhashMd5FromStore(batch: DataFrame,
      seenBanded: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = Md5SimhashMaxHamming,
      maxBucketSize: Int = SimhashMaxBucketSize): DataFrame =
    simhashBandTail(
      simhashBandedOf(
        md5SimhashFp(batch, idCol, textCol).seamCheckpoint(false),
        bandBits = Md5SimhashBandBits,
        nBands = Md5SimhashBits / Md5SimhashBandBits),
      Some(seenBanded), maxHamming = maxHamming,
      maxBucketSize = maxBucketSize)

  /** Blocked word-n-gram Jaccard dedup (SQL-oracle-able variant): block
    * on a text prefix, compute exact shingle Jaccard within blocks. The
    * prefix block is a cheap deterministic blocker; minhashLsh is the
    * content-robust scale path.
    *
    * `maxBlockSize` drops blocks bigger than the cap before the pair
    * join (same knob as minhashLsh's maxBucketSize): a boilerplate
    * prefix shared by millions of docs would otherwise go quadratic
    * within its block. Documented recall tradeoff — pairs inside a
    * dropped block are missed here and left to the LSH path. The oracle
    * assumes a non-degenerate corpus (no block over the cap), which the
    * testdata satisfies. */
  // Default knobs, shared with the SQL twin (SqlSurfaceOps.dedupNgramSql
  // interpolates these same constants) so the two surfaces can't drift.
  val NgramShingleN = 3
  val NgramPrefixLen = 40
  val NgramThreshold = 0.8
  val NgramMaxBlockSize = 1000

  /** Near-dup clusters + canonical-doc selection — the finishing step
    * of a dedup pipeline: candidate pairs → connected components →
    * cluster id = component-minimum doc id → keep exactly the canonical
    * doc per cluster (singletons keep themselves). Convenience form over
    * prefix-blocked pairs; [[nearDupClustersFromPairs]] takes ANY pair
    * source — at 100 TB feed it [[minhashLsh]] pairs, which catch
    * near-dups whose openings differ (the prefix blocker's blind spot). */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = NgramThreshold, maxIters: Int = 30,
      cacheResult: Boolean = true): DataFrame =
    nearDupClustersFromPairs(docs, idCol,
      blockedNgramJaccard(docs, idCol, textCol, threshold = threshold)
        .select(col("doc_a"), col("doc_b")),
      maxIters, cacheResult, trustedPairs = true)

  /** Connected components over an arbitrary `(doc_a, doc_b)` candidate
    * pair DataFrame — the pair source is a parameter so the clustering
    * consumes whichever recall profile the pipeline chose (prefix
    * blocking, MinHash-LSH, SimHash bands, or a union of them).
    *
    * Returns one `(doc_id, cluster_id, keep)` row per doc of `docs`:
    * `cluster_id` is the least doc id of the doc's component and `keep`
    * marks that canonical member. The components come from
    * [[componentLabels]] (large-star/small-star), which runs over the
    * PAIR GRAPH only, never the corpus: docs in no pair — the
    * overwhelming majority of a deduplicated corpus — are unioned back
    * as singleton rows (`cluster_id = doc_id`, `keep = true`) by one
    * anti-join after the loop, which is exactly what a corpus-seeded
    * fixpoint assigns them. Deterministic and exact at fixpoint;
    * `DedupOps` mirrors it as a DuckDB recursive CTE for the value-level
    * gate. The loop needs O(log n) rounds for an n-doc component,
    * whatever order its ids run in; if `maxIters` rounds pass without
    * the fixpoint, a stderr warning is emitted and the partial labels
    * are returned: clusters may be split, never merged.
    *
    * Pairs over ids outside `docs` are dropped entirely before the loop
    * (both endpoints semi-joined once, never per round), so a
    * caller-supplied pair source cannot inject phantom doc_id rows, and
    * two docs connected only THROUGH an unknown id do not merge.
    * `trustedPairs = true` skips that filter for pair sources derived
    * from `docs` itself (every internal caller: the LSH/winnow/simhash
    * banders, semantic cell pairs, image hamming pairs — all generate
    * endpoints by projecting the same corpus), where its semi-joins are
    * pure fixed cost. MISUSE HAZARD: with the filter skipped, the loop
    * treats an unknown id as a doc like any other. Two valid docs
    * connected only through it MERGE, an unknown id below every member
    * becomes the cluster's emitted `cluster_id` (and no corpus doc of
    * that cluster is kept), and every unknown endpoint emits a row for a
    * doc_id outside the corpus. Pass `trustedPairs = true` ONLY for pair
    * relations whose both endpoints are projections of `docs(idCol)`,
    * never for caller-supplied pair tables.
    *
    * Caching contract: with `cacheResult = true` the returned result is
    * an eager `localCheckpoint` of the final label table (|docs| rows ×
    * 17 bytes) — lineage is truncated so consumers never replay the
    * iterations, the blocks live in the block manager (NOT the
    * session-lifetime CacheManager), and the ContextCleaner frees them
    * when the DataFrame becomes unreachable: repeated one-shot runs do
    * not accumulate cached tables. With `cacheResult = false` the result
    * reads the loop's last round checkpoint and recomputes only the
    * singleton anti-join per downstream action. */
  def nearDupClustersFromPairs(docs: DataFrame, idCol: String,
      pairs: DataFrame, maxIters: Int = 30,
      cacheResult: Boolean = true, trustedPairs: Boolean = false): DataFrame = {
    val p0 = pairs.select(col("doc_a").cast("long").as("doc_a"),
      col("doc_b").cast("long").as("doc_b"))
    val p = if (trustedPairs) p0 else {
      // The corpus is touched exactly ONCE: the pair VERTEX set —
      // pair-sized, tiny next to the corpus — is validated in one
      // semi-join, and the two per-endpoint filters then run against
      // that small valid-id table, never the corpus. Two direct
      // per-endpoint corpus semi-joins would shuffle the corpus twice
      // (measured +45% on ComponentAb at 4M docs). The pairs and
      // `validIds` have two consumers each, so both are lazily
      // checkpointed: uncached, each consumer would re-run the pair
      // source or the corpus pass.
      val pSrc = p0.seamCheckpoint(eager = false)
      val validIds = pSrc.select(col("doc_a").as("id"))
        .union(pSrc.select(col("doc_b").as("id"))).distinct()
        .join(docs.select(col(idCol).cast("long").as("id")), Seq("id"), "left_semi")
        .seamCheckpoint(eager = false)
      pSrc.join(validIds.toDF("doc_a"), Seq("doc_a"), "left_semi")
        .join(validIds.toDF("doc_b"), Seq("doc_b"), "left_semi")
    }
    // Both orientations of every pair from ONE read of the pair source.
    // No distinct: every pair source in this repo emits canonical
    // (doc_a < doc_b), already-distinct pairs, and a duplicate edge of a
    // degenerate external source changes no label.
    val edges = p.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
    val labels = componentLabels(edges, maxIters)
    val loopOut = labels.select(col("v").as("doc_id"),
      col("lbl").as("cluster_id"), (col("v") === col("lbl")).as("keep"))
    // Docs outside every pair: trivially their own canonical. One
    // anti-join against the (small) vertex label table — the corpus
    // never enters a round.
    val singles = docs.select(col(idCol).cast("long").as("doc_id"))
      .join(labels.select(col("v").as("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(true).as("keep"))
    val out = loopOut.union(singles)
    if (cacheResult) out.seamCheckpoint(eager = true) else out
  }

  /** Connected components of a symmetric `(src, dst)` edge relation by
    * the alternating large-star/small-star steps of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" (SoCC 2014).
    * Deliberately takes ONLY the edge DataFrame, so no corpus scan can
    * reach a round (DedupSpec pins the vertex-sized label table).
    * Returns `(v, lbl)` for exactly the vertices of the non-self-loop
    * edges; at the fixpoint `lbl` is the least vertex of v's component.
    * After `maxIters` rounds without the fixpoint it warns and returns
    * each vertex's least neighbour or itself: a component may be split,
    * never merged with another, because both steps keep the components.
    *
    * A round is a large-star then a small-star; each rewrites the edge
    * multiset, one output edge per input edge, and is a window `min`
    * per vertex with no join. Large-star links every larger neighbour
    * of v to the least of v and its neighbours; small-star links v and
    * its smaller neighbours to the least of those. The alternation ends
    * with each component a star around its least vertex, after
    * O(log n) rounds for an n-vertex component in any id order. */
  private[graft] def componentLabels(edges: DataFrame,
      maxIters: Int): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1 (got $maxIters)")
    // Every edge as the (v, n) neighbour rows of both its endpoints,
    // ordered by n within v: the running min `lo` is v's least
    // neighbour on every row, and `i = 1` marks one row per v. The
    // fixpoint test, the next large-star and the labels read them
    // without another shuffle.
    val byV = Window.partitionBy(col("v")).orderBy(col("n"))
    def withLo(nbrs: DataFrame): DataFrame = nbrs
      .withColumn("lo", min(col("n")).over(byV))
      .withColumn("i", row_number().over(byV))
    var s = withLo(edges.filter(col("src") =!= col("dst"))
      .select(col("src").as("v"), col("dst").as("n")))
    var done = false
    var it = 0
    while (!done && it < maxIters) {
      val large = s.filter(col("n") > col("v"))
        .select(col("n").as("src"), least(col("v"), col("lo")).as("dst"))
      // src > dst on every large-star edge; the row holding src's least
      // neighbour m emits the edge src–m, every other row dst–m
      val small = large
        .withColumn("m", min(col("dst")).over(Window.partitionBy(col("src"))))
        .select(when(col("dst") === col("m"), col("src"))
          .otherwise(col("dst")).as("a"), col("m").as("b"))
      s = withLo(small.select(explode(array(
          struct(col("a").as("v"), col("b").as("n")),
          struct(col("b").as("v"), col("a").as("n")))).as("e"))
        .select(col("e.v"), col("e.n")))
        .seamCheckpoint(eager = false)
      // The fixpoint: no vertex that has a smaller neighbour has a
      // second neighbour, i.e. each component is a star around its
      // least vertex. One job, which also materializes the checkpoint
      // (Dataset.count would add a single-partition shuffle: two jobs).
      done = s.filter(col("lo") < col("v") && col("n") > col("lo"))
        .queryExecution.toRdd.count() == 0
      it += 1
    }
    if (!done)
      System.err.println(s"[nearDupClusters] WARNING: not converged after " +
        s"$maxIters rounds; clusters may be split (never merged). " +
        "Raise maxIters.")
    s.filter(col("i") === 1).select(col("v"), least(col("v"), col("lo")).as("lbl"))
  }

  /** Canonical selection by QUALITY over near-dup clusters: instead of
    * [[nearDupClustersFromPairs]]'s min-id keep, keep the
    * highest-quality member of each cluster (tie → min id) — what a
    * curation pipeline actually wants when near-dups differ in
    * cleanliness. `withQuality`: (idCol, cluster_id, quality).
    *
    * The argmax is ONE partial aggregation — max of a (quality, ~id)
    * struct, so the merge is a plain max and map-side combine applies —
    * NEVER a per-cluster row_number window: a mass-duplicated
    * boilerplate cluster would ship every member into one unsplittable
    * window task (the same WindowExec hazard class as the dedup bucket
    * caps). The join back is a shuffle join on cluster_id; per-cluster
    * best rows are bounded by the cluster count, not the corpus.
    *
    * The min-id tie-break is encoded as max(bitwise NOT id): ~ is a
    * strictly decreasing bijection on the full long domain, so it is
    * overflow-free for negative ids too (a MaxValue − id encoding would
    * wrap there and silently elect the wrong canonical). Contract:
    * quality must be non-null (qualityExpr's output always is).
    *
    * `carryCols` names extra input columns to pass through to the
    * output — a composition that needs them (pipeline_curate_quality
    * carries lang) would otherwise have to join the verdicts back to
    * its input, re-executing the whole upstream lineage. */
  /** SOFT dedup: instead of dropping a near-dup cluster's losers, keep
    * every document with weight 1/cluster_size — the loss-weighting
    * form of dedup used when hard dropping would cost too much data
    * (each cluster contributes one document's worth of gradient mass
    * in expectation, however many copies exist; singletons keep weight
    * 1.0). Composes over ANY pair source, like
    * [[nearDupClustersFromPairs]].
    *
    * Scale shape: cluster sizes are a partial-agg groupBy over the
    * id-only cluster table joined back on cluster_id — a shuffle join
    * on an id-sized relation (a mass-duplicated cluster is ONE count
    * row, and AQE can split its join partition), never a per-cluster
    * window. */
  def softDedupWeights(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val clusters = nearDupClustersFromPairs(docs, idCol, pairs)
      .select(col("doc_id"), col("cluster_id"))
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"))
    clusters.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"),
        round(lit(1.0) / col("n"), 4).as("weight"))
  }

  def keepByQuality(withQuality: DataFrame, idCol: String = "doc_id",
      carryCols: Seq[String] = Nil): DataFrame = {
    val best = withQuality
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("quality").as("q"),
        bitwise_not(col(idCol)).as("inv"))).as("b"))
      .select(col("cluster_id"), bitwise_not(col("b.inv")).as("best_id"))
    withQuality.join(best, Seq("cluster_id"))
      .select(col(idCol) +: col("cluster_id") +: col("quality") +:
        (col(idCol) === col("best_id")).as("keep") +: carryCols.map(col): _*)
  }

  /** Winnowing parameters (Schleimer/Wilkerson/Aiken, SIGMOD'03
    * "Winnowing: Local Algorithms for Document Fingerprinting"): grams
    * of [[WinnowGramTokens]] tokens (the noise threshold — no match
    * shorter than k tokens is ever detected) and windows of
    * [[WinnowWindow]] consecutive gram hashes (guarantee threshold
    * t = k + w − 1 = 7: every shared run of ≥ t tokens is GUARANTEED
    * to share a selected fingerprint). Expected density of selected
    * fingerprints is 2/(w+1) of the gram positions. Shared with the
    * generated oracle SQL (DedupOps) so the engines can't drift. */
  val WinnowGramTokens = 4
  val WinnowWindow = 4

  /** Minimum shared winnowing fingerprints for a [[winnowPairs]]
    * candidate pair, and the hot-fingerprint cap (a fingerprint
    * selected by more docs than this is boilerplate and generates no
    * pairs — same documented recall knob as the LSH bucket cap). */
  val WinnowMinShared = 3
  val WinnowMaxDocsPerGram = 1000

  /** Winnowing fingerprint selection: per document, slide a window of
    * `w` consecutive k-gram hashes and select the window minimum,
    * breaking ties by the RIGHTMOST position (the paper's rule — it
    * makes selection deterministic and position-local). The distinct
    * selected (pos, hash) rows are the document's fingerprint sketch:
    * any two documents sharing a run of ≥ k+w−1 tokens share at least
    * one selected fingerprint, at ~2/(w+1) the density of full
    * k-gram shingling. Documents with fewer than w grams select the
    * minimum over all their grams (one whole-doc window), so every
    * doc with ≥ k tokens fingerprints.
    *
    * Scale shape: gram hashing is scan-side ([[spanGrams]]: native
    * position-ordered windows, one md5 per gram); the window minimum
    * is a per-DOCUMENT ordered frame (state bounded by w, partitions
    * bounded by doc length — never corpus-wide); the rightmost-min
    * selection joins window ends back to grams on (doc, pos-bucket)
    * where a bucket is w positions wide, so each window end meets at
    * most 2w gram rows — O(n·w) join work per doc, never the O(n²)
    * doc-equi join the naive range join would do on a long document.
    * The corpus is scanned twice (both join sides), the same
    * trade documented on [[duplicateSpans]]. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = WinnowGramTokens, w: Int = WinnowWindow,
      fan: Boolean = true): DataFrame =
    winnowSelect(spanGrams(docs, idCol, textCol, k, fan), idCol, w)

  /** Production-hash twin of [[winnowFingerprints]]: xxhash64 grams
    * (one 64-bit hash per window instead of an md5 digest — the hash
    * a production run would use; md5 exists for the cross-engine
    * gate). Selection semantics are identical — the window minimum
    * just orders longs instead of hex strings, so the two families
    * select their own (equally valid) winnowing sketches. */
  def winnowFingerprintsXxh64(docs: DataFrame, idCol: String,
      textCol: String, k: Int = WinnowGramTokens,
      w: Int = WinnowWindow): DataFrame =
    winnowSelect(
      docs.select(col(idCol), posexplode(shinglesFromText(col(textCol), k)))
        .select(col(idCol), col("pos"), xxhash64(col("col")).as("gram")),
      idCol, w)

  private[operators] def winnowSelect(grams: DataFrame, idCol: String,
      w: Int): DataFrame = {
    // Selection as ONE per-doc window pass — no join, no distinct,
    // one exchange. Position p is selected iff SOME window end
    // e ∈ [p, p+w−1] makes p its rightmost minimum:
    //   - e is a valid end (e ≥ w−1 for full windows; e = n−1 is the
    //     whole-doc window of a short doc),
    //   - nothing in (p, e] is ≤ h[p]   (a right-side tie outranks p:
    //     rightmost wins — so STRICT >),
    //   - nothing in [max(0, e−w+1), p) is < h[p]  (left-side ties
    //     don't — so ≥).
    // Both conditions read BOUNDED frames (≤ w−1 rows either side),
    // so the whole decision is 2(w−1) frame minima + a static
    // disjunction over the w end offsets, all inside one WindowExec
    // group per doc. (A first implementation materialized window ends
    // and joined them back to their gram rows position-bucketed —
    // same output, proven by the unchanged oracle gate, but 4
    // exchanges and a distinct against this form's one.)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
    var df = grams.withColumn("n", count(lit(1)).over(whole))
    for (j <- 1 until w) {
      df = df
        .withColumn(s"fwd$j", min(col("gram")).over(byDoc.rowsBetween(1, j)))
        .withColumn(s"bwd$j", min(col("gram")).over(byDoc.rowsBetween(-j, -1)))
    }
    val selected = (0 until w).map { d =>
      val e = col("pos") + d
      val endOk = e <= col("n") - 1 &&
        (e >= w - 1 || e === col("n") - 1)
      val rightOk =
        if (d == 0) lit(true) else col(s"fwd$d") > col("gram")
      // how many window members sit LEFT of p: min(p, w−1−d)
      val lCnt = least(lit(w - 1 - d), col("pos"))
      val leftOk = (lCnt === 0) +: (1 until w).map { j =>
        lCnt === j && col(s"bwd$j") >= col("gram")
      } reduce (_ || _)
      endOk && rightOk && leftOk
    }.reduce(_ || _)
    df.filter(selected)
      .select(col(idCol), col("pos").cast("long").as("pos"), col("gram"))
  }

  /** Near-dup candidate pairs from shared winnowing fingerprints —
    * the MOSS-style detector: documents sharing ≥ `minShared` selected
    * fingerprint hashes, with the shared count as the match strength.
    * Catches partial overlap (a long shared passage inside otherwise
    * different documents) that whole-document Jaccard dilutes away,
    * at 2/(w+1) the index size of full shingling.
    *
    * Scale shape: fingerprint TYPES per doc (distinct hashes) are a
    * partial-agg distinct; hot fingerprints (boilerplate selected by
    * > `maxDocsPerGram` docs) are dropped via the partial-agg count +
    * broadcast anti-join discipline (never a window count), bounding
    * the per-hash pairing quadratic exactly like the LSH bucket cap;
    * the pair count is a partial-agg groupBy over (doc_a, doc_b). */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = WinnowGramTokens, w: Int = WinnowWindow,
      minShared: Int = WinnowMinShared,
      maxDocsPerGram: Int = WinnowMaxDocsPerGram): DataFrame =
    winnowPairsFromFp(winnowFingerprints(docs, idCol, textCol, k, w),
      idCol, minShared, maxDocsPerGram)

  /** Production-hash twin of [[winnowPairs]] — identical pairing tail
    * over the xxhash64-selected sketch; value-gated by the md5 twin's
    * oracle (the pipeline downstream of the hash is shared code) and
    * WinnowSpec's planted pair. */
  def winnowPairsXxh64(docs: DataFrame, idCol: String, textCol: String,
      k: Int = WinnowGramTokens, w: Int = WinnowWindow,
      minShared: Int = WinnowMinShared,
      maxDocsPerGram: Int = WinnowMaxDocsPerGram): DataFrame =
    winnowPairsFromFp(winnowFingerprintsXxh64(docs, idCol, textCol, k, w),
      idCol, minShared, maxDocsPerGram)

  private def winnowPairsFromFp(fps: DataFrame, idCol: String,
      minShared: Int, maxDocsPerGram: Int): DataFrame = {
    val fp = fps
      .select(col(idCol).as("doc_id"), col("gram")).distinct()
      .seamCheckpoint(false)
    val hot = fp.groupBy(col("gram"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") > maxDocsPerGram)
      .select(col("gram"))
    val cold = fp.join(broadcast(hot), Seq("gram"), "left_anti")
    val a = cold.select(col("gram"), col("doc_id").as("doc_a"))
    val b = cold.select(col("gram"), col("doc_id").as("doc_b"))
    a.join(b, Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Max normalized edit distance in basis points for
    * [[editDistancePairs]] — 3000 = the pair survives if the cheaper
    * of the two rewrite directions touches ≤ 30% of the longer text.
    * Shared with the generated oracle SQL. */
  val EditMaxRatioBp = 3000

  /** Edit-distance-verified near-dup pairs — the character-level
    * precision verifier the banding families lack: SimHash/MinHash
    * verify with SET similarity (shingle Jaccard), which a heavy
    * in-place token substitution cheats (sets shrink symmetrically),
    * while normalized Levenshtein prices every insertion, deletion,
    * AND substitution positionally. Candidates come from the capped
    * md5-twin SimHash banding ([[simhashMd5Pairs]] — near-linear,
    * never all-pairs); each candidate pair is verified with
    * edit_ratio_bp = ⌊edit_dist · 10⁴ / max(len_a, len_b)⌋ ≤
    * `maxRatioBp`, all integer arithmetic.
    *
    * ASCII scope: the verification corpus is restricted to printable-
    * ASCII documents because edit-distance ENGINES disagree on the
    * unit — Spark's levenshtein counts code points, DuckDB's counts
    * bytes, and on multibyte text the two are different metrics (a
    * CJK substitution is 1 vs 3). On ASCII they coincide exactly.
    * Multibyte corpora go through the shingle/Jaccard verifiers,
    * whose set semantics are encoding-agnostic.
    *
    * Scale shape: the candidate generation is the spec'd capped
    * banding; texts join onto the BOUNDED candidate set only (never
    * all-pairs), and the O(len²) distance runs once per candidate —
    * the standard cost profile of a fuzzy-match verifier. */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      maxRatioBp: Int = EditMaxRatioBp): DataFrame = {
    val ascii = docs.filter(col(textCol).rlike("^[ -~]*$"))
    val cands = simhashMd5Pairs(ascii, idCol, textCol)
      .select(col("doc_a"), col("doc_b"))
    val ta = ascii.select(col(idCol).as("doc_a"), col(textCol).as("text_a"))
    val tb = ascii.select(col(idCol).as("doc_b"), col(textCol).as("text_b"))
    // r18 (guide §3.2 — shrink the expensive operator's work, not its
    // output): the verification runs THRESHOLDED levenshtein. A pair
    // passes iff edit_dist·10⁴ div max_len ≤ B, i.e. iff
    // edit_dist ≤ lim = ((B+1)·max_len − 1) div 10⁴ — lim IS the exact
    // max passing distance (⌊e·10⁴/m⌋ ≤ B ⟺ e·10⁴ ≤ B·m + m − 1).
    // levenshtein(a, b, lim) runs the banded O(len·lim) algorithm
    // (returning the EXACT distance when ≤ lim, −1 otherwise, with an
    // O(1) length-difference early exit) instead of the full O(len²)
    // DP: surviving pairs see bit-identical distances, failing pairs
    // are rejected without completing the DP. The −1 sentinel rows are
    // dropped by the `edit_dist >= 0` guard — without it a −1 would
    // compute a negative ratio and PASS the ≤ B filter.
    cands.join(ta, Seq("doc_a")).join(tb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("text_a"), col("text_b"),
        greatest(length(col("text_a")), length(col("text_b")), lit(1))
          .cast("long").as("max_len"))
      .withColumn("lim",
        expr(s"((${maxRatioBp.toLong + 1L} * max_len) - 1) div 10000"))
      .select(col("doc_a"), col("doc_b"), col("max_len"),
        expr("levenshtein(text_a, text_b, cast(lim as int))")
          .cast("long").as("edit_dist"))
      .filter(col("edit_dist") >= 0)
      .withColumn("edit_ratio_bp", expr("edit_dist * 10000 div max_len"))
      .filter(col("edit_ratio_bp") <= maxRatioBp)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        col("edit_ratio_bp"))
  }

  /** Incremental [[winnowPairs]]: the shared-fingerprint pairs a NEW
    * batch adds against an already-fingerprinted corpus, computed
    * without re-winnowing the seen side — `seenFp` is the seen
    * corpus's (doc_id, gram) selected-fingerprint types, in practice
    * a persisted [[WinnowStore]] scan. Winnowing selection is
    * doc-LOCAL (a doc's fingerprints never depend on other docs), so
    * output == full-corpus [[winnowPairs]] restricted to pairs
    * touching the batch, EXACTLY: the hot-fingerprint cap is counted
    * over the full (batch ∪ seen) view, matching the self-form's
    * corpus-wide count, and n_shared counts distinct shared hashes
    * per canonicalized pair (a batch-internal pair reached from both
    * endpoints collapses in the per-(pair, gram) distinct before the
    * count).
    *
    * Scale shape: the batch is winnowed once (lazy checkpoint, three
    * consumers); the seen side is scanned, never re-hashed; hot cap
    * is the partial-agg count + broadcast anti-join discipline. */
  def incrementalWinnowPairsFrom(batch: DataFrame, seenFp: DataFrame,
      idCol: String, textCol: String,
      k: Int = WinnowGramTokens, w: Int = WinnowWindow,
      minShared: Int = WinnowMinShared,
      maxDocsPerGram: Int = WinnowMaxDocsPerGram): DataFrame = {
    // fan = false: probe-sized batch by contract (see spanGrams), and
    // the fingerprint table is checkpointed immediately below
    val batchFp = winnowFingerprints(batch, idCol, textCol, k, w,
        fan = false)
      .select(col(idCol).as("doc_id"), col("gram")).distinct()
      .seamCheckpoint(false)
    val all = batchFp.union(seenFp.select(col("doc_id"), col("gram")))
    val hot = all.groupBy(col("gram"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") > maxDocsPerGram)
      .select(col("gram"))
    val a = batchFp.join(broadcast(hot), Seq("gram"), "left_anti")
      .select(col("gram"), col("doc_id").as("probe_id"))
    val b = all.join(broadcast(hot), Seq("gram"), "left_anti")
      .select(col("gram"), col("doc_id").as("other_id"))
    a.join(b, Seq("gram"))
      .filter(col("probe_id") =!= col("other_id"))
      .select(least(col("probe_id"), col("other_id")).as("doc_a"),
        greatest(col("probe_id"), col("other_id")).as("doc_b"),
        col("gram"))
      .distinct()
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Convenience form of [[incrementalWinnowPairsFrom]] that winnows
    * the seen side in place — the recompute baseline the persisted
    * [[WinnowStore]] probe must match exactly (and the form a one-off
    * backfill without a store would run). */
  def incrementalWinnowPairs(batch: DataFrame, seen: DataFrame,
      idCol: String, textCol: String,
      k: Int = WinnowGramTokens, w: Int = WinnowWindow,
      minShared: Int = WinnowMinShared,
      maxDocsPerGram: Int = WinnowMaxDocsPerGram): DataFrame =
    incrementalWinnowPairsFrom(batch,
      winnowFingerprints(seen, idCol, textCol, k, w)
        .select(col(idCol).as("doc_id"), col("gram")).distinct(),
      idCol, textCol, k, w, minShared, maxDocsPerGram)

  def blockedNgramJaccard(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = NgramShingleN, prefixLen: Int = NgramPrefixLen,
      threshold: Double = NgramThreshold,
      maxBlockSize: Int = NgramMaxBlockSize): DataFrame = {
    val t0 = docs.select(col(idCol).as("doc_id"),
      substring(col(textCol), 1, prefixLen).as("blk"),
      shinglesFromText(col(textCol), shingleN).as("sh"))
    // Same skew-safe cap shape as lshVerifiedPairs: partial-agg count of
    // block sizes (the count side prunes to just `blk` — shingles are
    // never computed for it), then a broadcast anti-join against the tiny
    // oversized-block set. A window count here would funnel a boilerplate
    // prefix's millions of rows into one task. Unlike the LSH path, the
    // count branch is NOT worth a checkpoint: its lineage is a pruned
    // scan + substring (no signatures), so recomputing it costs one
    // column read, while materializing t0 would write corpus-sized
    // shingle arrays.
    val oversized = t0
      .groupBy(col("blk"))
      .agg(count(lit(1)).as("blk_n"))
      .filter(col("blk_n") > maxBlockSize)
      .select(col("blk"))
    val t = t0.join(broadcast(oversized), Seq("blk"), "left_anti")
    val a = t.select(col("blk"), col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = t.select(col("blk"), col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, "blk")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .filter(col("jac") >= threshold)
  }
}
