package graft.operators

import graft.operators.Materialize.MatOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (BASELINE.json
  * north star): language ID, quality scoring, token counting, document
  * fingerprinting. Pure Column expressions — codegen'd end to end, no
  * row amplification; at 100 TB each op is a single scan-side projection
  * (no shuffle at all until an aggregation consumes the result).
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, " ")

  /** Canonical text normalization for messy corpora: lowercase, strip
    * punctuation to spaces, collapse whitespace runs, trim. Feed its
    * output to tokens()/shingles for dedup over real-world text, or
    * hash it for normalization-robust ("fuzzy-exact") dedup —
    * trivial reformattings must not defeat the dedup pass. Pure
    * scan-side string expression (codegen'd); pattern literals shared
    * with the generated oracle SQL (Java regex and DuckDB's RE2 agree
    * on these unicode character classes). */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), NormPunctPattern, " "),
      NormSpacePattern, " "))

  val NormPunctPattern = "[^\\p{L}\\p{N}]+"
  val NormSpacePattern = " +"

  /** Printable-ASCII projection (deterministic cross-engine base for
    * char-level ops; multibyte text handled by the CJK branch of langId). */
  def asciiOnly(text: Column): Column = regexp_replace(text, "[^ -~]", "")

  /** Polynomial rolling hash (base 31 mod 1e9+7) over printable-ASCII
    * chars — a content fingerprint stable under container/metadata
    * changes, unlike md5 of raw bytes. Native codegen'd expression (the
    * old aggregate(transform(sequence(...))) form materialized a
    * per-char array per doc and ran interpreted — see
    * graft.functions.RollingFp for the equivalence argument). */
  def rollingFingerprint(text: Column): Column =
    graft.functions.RollingFp(text)

  // Tiny fixed stopword lists per language — a deliberately simple,
  // deterministic n-gram-free heuristic (real pipelines would plug a
  // fastText-style model at the same operator seam).
  val stopEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  val stopDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein", "von")
  val stopFr: Seq[String] = Seq("le", "la", "les", "et", "est", "un", "une")
  val stopEs: Seq[String] = Seq("el", "los", "las", "y", "es", "uno", "para")

  def stopwordCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedlit(words), t)))

  def cjkCount(text: Column): Column =
    regexp_count(text, lit("[一-鿿]"))

  /** Stopword-vote language ID with fixed priority tie-break
    * (zh via CJK chars, then en > de > fr > es). */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val (en, de, fr, es) = (
      stopwordCount(toks, stopEn), stopwordCount(toks, stopDe),
      stopwordCount(toks, stopFr), stopwordCount(toks, stopEs))
    when(cjkCount(text) > 0, lit("zh"))
      .when(en >= greatest(de, fr, es), lit("en"))
      .when(de >= greatest(fr, es), lit("de"))
      .when(fr >= es, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Minimum tokens before a head/tail language disagreement counts as
    * mixed — below it one half is too short for the stopword vote to
    * mean anything (a 1-token doc's empty tail votes the tie-break
    * default, which is noise, not code-switching). */
  val LangMixedMinTokens = 4

  /** Mixed-language detection — the multilingual-contamination rule
    * (crawl pipelines drop or split documents whose language DRIFTS:
    * boilerplate in one language wrapping content in another defeats
    * both per-language floors and the tokenizer's fertility
    * assumptions). Cheap structural form: [[langId]] voted separately
    * over the token head half and tail half; `mixed` = the votes
    * disagree AND the doc carries at least [[LangMixedMinTokens]]
    * tokens. Output (doc_id, lang_head, lang_tail, mixed).
    *
    * Scale shape: pure scan-side column arithmetic (two slices, two
    * stopword votes), no shuffle, no join. Cross-engine: the halves
    * split at ⌊(n+1)/2⌋ via integer truncation (Spark's double-divide
    * cast and DuckDB's `//` agree on positives), and the vote is the
    * shared [[langId]] CASE verbatim. */
  def langMixed(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val n = size(toks)
    val half = ((n + lit(1)) / lit(2)).cast("int")
    val head = array_join(slice(toks, lit(1), half), " ")
    val tail = array_join(slice(toks, half + lit(1), n), " ")
    docs.select(col(idCol),
        langId(head).as("lang_head"),
        langId(tail).as("lang_tail"),
        n.as("n"))
      .select(col(idCol), col("lang_head"), col("lang_tail"),
        (col("n") >= LangMixedMinTokens &&
          col("lang_head") =!= col("lang_tail")).as("mixed"))
  }

  /** Per-doc stats: counts and ratios from exact integer counts (all
    * derived doubles are deterministic single divisions). */
  def textStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nChars = length(t).cast("long")
    val nTokens = size(toks).cast("long")
    docs.select(
      col(idCol),
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      (nChars.cast("double") / nTokens.cast("double")).as("chars_per_token"),
      (length(regexp_replace(t, "[^.!?,;:]", "")).cast("double") /
        nChars.cast("double")).as("punct_ratio"),
      (length(regexp_replace(t, "[^0-9]", "")).cast("double") /
        nChars.cast("double")).as("digit_ratio"))
  }

  /** Composite quality score in [0,1] as a Column: length saturation +
    * alphabetic purity + stopword presence (the classic cheap
    * pre-filter trio) — shared by the batch query and the streaming
    * curation gate. */
  def qualityExpr(t: Column): Column = {
    val toks = tokens(t)
    val nChars = length(t).cast("double")
    val nTokens = size(toks).cast("double")
    val alphaRatio = length(regexp_replace(t, "[^a-zA-Z]", "")).cast("double") / nChars
    val stopRatio = stopwordCount(toks, stopEn).cast("double") / nTokens
    round(least(lit(1.0), nTokens / 200.0) * 0.4 +
      alphaRatio * 0.4 +
      least(lit(0.2), stopRatio), 4)
  }

  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), qualityExpr(col(textCol)).as("quality"))

  /** Token-mass histogram over quality-score deciles — the datacard
    * row quality-threshold decisions are made from: per decile bucket
    * of [[qualityExpr]], the doc count, the token mass, and the
    * bucket's share of corpus tokens in basis points (how many tokens
    * a cutoff at each decile edge would keep/drop). Bucketing is
    * integer — round(score·10⁴) then div 1000, capped at 9 — so the
    * decile edge can never drift across engines on a float boundary.
    *
    * Scale shape: one scan-side score + token count into a partial
    * aggregate on a ≤10-value key; the share divides by the corpus
    * total via a broadcast single-row join. Nothing corpus-sized
    * shuffles. */
  def qualityTokenHistogram(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    val bucketed = docs
      .select(round(qualityExpr(t) * lit(10000.0), 0).cast("long").as("q_bp"),
        size(tokens(t)).cast("long").as("n"))
      .select(least(expr("q_bp div 1000"), lit(9L)).as("bucket"), col("n"))
    val hist = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    val total = hist.agg(sum(col("n_tokens")).as("total"))
    hist.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 10000L) div total").as("share_bp"))
  }

  /** Sample size per group for [[weightedSampleWor]] — shared with the
    * generated oracle SQL. */
  val WorSampleK = 20

  /** EXACT weighted sampling WITHOUT replacement, top-k per group, by
    * integer hash race (Efraimidis & Spirtakis 2006, in the Gumbel-
    * trick formulation): doc i with integer weight w_i gets key_i =
    * max over j ∈ [1, w_i] of U_ij, where U_ij is a 48-bit uniform
    * hash of (doc_id, j); the k LARGEST keys per group are the sample.
    * Correctness: with E_ij = −ln(U_ij) iid Exp(1), min_j E_ij ~
    * Exp(w_i) exactly, and ranking by independent Exp(w_i) keys IS
    * weighted sampling without replacement (P(i drawn first) =
    * w_i / Σw); −ln is decreasing, so ranking by min of exponentials
    * equals ranking DESCENDING by max of uniforms — all integer, no
    * transcendentals, bit-identical across engines (the 48-bit grid
    * only distorts at tie granularity, and ties break on doc_id).
    * Weights here are the quality decile + 1 (∈ [1,10], the integer
    * [[qualityExpr]] bucketing), so higher-quality docs are
    * proportionally likelier to be drawn — the "sample a quality-
    * leaning eval slice per source" curation op.
    *
    * Scale shape: the explode is bounded (≤ 10 rows per doc,
    * scan-side hash each), the per-doc max is a partial agg, and the
    * per-group top-k is the bounded-heap aggregate
    * ([[graft.functions.TopKByScore]]) — map-side combine reduces
    * every partition to ≤ k rows per group before the shuffle; no
    * ranking window ever sees a corpus-sized partition. The 48-bit
    * keys are exact in the aggregate's double scores (< 2⁵³). */
  def weightedSampleWor(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, k: Int = WorSampleK): DataFrame = {
    val weighted = docs
      .select(col(groupCol), col(idCol),
        qualityBp(col(textCol)).as("q_bp"))
      .select(col(groupCol), col(idCol),
        (least(expr("q_bp div 1000"), lit(9L)) + 1L).as("w"))
    val keyed = weighted
      .select(col(groupCol), col(idCol),
        explode(sequence(lit(1L), col("w"))).as("j"))
      .select(col(groupCol), col(idCol),
        conv(substring(md5(concat(col(idCol).cast("string"), lit("#wor#"),
          col("j").cast("string"))), 1, 12), 16, 10).cast("long").as("u"))
      .groupBy(col(groupCol), col(idCol))
      .agg(max(col("u")).as("key_u"))
    keyed.groupBy(col(groupCol))
      .agg(graft.functions.TopKByScore(col("key_u").cast("double"),
        col(idCol), k).as("topk"))
      .select(col(groupCol), posexplode(col("topk")))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as(idCol), col("col.score").cast("long").as("key_u"))
  }

  /** Z-order (Morton) bit interleave of two 16-bit dimensions — built
    * entirely from codegen'd integer built-ins (32 shift/mask terms
    * summed over disjoint bits), no custom expression needed. Bit 2i
    * of the result is bit i of `a`, bit 2i+1 is bit i of `b`, so a
    * prefix of the z value constrains a prefix of BOTH dimensions —
    * the property multi-dimensional data skipping rides. */
  def zOrder16(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Shard count exponent for [[layoutZorder]]: 2⁴ = 16 shards from
    * the top 4 z bits. Shared with the generated oracle SQL. */
  val ZShardBits = 4

  /** Z-order layout assignment over (quality, length) — the
    * multi-dimensional clustering pass a 100 TB corpus runs before
    * writing so that BOTH quality-range and length-range readers skip
    * files (a single-column sort clusters one dim and scatters the
    * other; Morton order gives every dimension prefix locality).
    * Output: per doc, the two clamped 16-bit dims, the interleaved z
    * value, and the shard = top-[[ZShardBits]] z bits — fixing a
    * shard fixes the top 2 bits of EACH dim, so within a shard each
    * dimension's spread is ≤ 1/4 of its domain (the locality bound
    * ZorderSpec pins). A production write follows with
    * `repartitionByRange(shard).sortWithinPartitions(zval)` so
    * parquet row-group min/max stats are tight on both dims.
    *
    * Scale shape: pure scan-side projection — integer shifts and
    * masks inside whole-stage codegen, NO shuffle, no window, no agg;
    * the assignment costs one corpus read. (The eventual re-layout
    * write is the one unavoidable range shuffle; the ASSIGNMENT
    * adds nothing to it.) */
  def layoutZorder(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    docs
      .select(col(idCol), qualityBp(t).as("q_bp"),
        least(size(tokens(t)).cast("long"), lit(65535L)).as("n_tokens"))
      .withColumn("zval", zOrder16(col("q_bp"), col("n_tokens")))
      .withColumn("shard", shiftright(col("zval"), 32 - ZShardBits))
  }

  /** Curriculum layout: the [[shardAssign]] pack order STRATIFIED by a
    * quality stage — training readers consume stage 0 (highest
    * quality) to stage S in order, and within a (stage, shard) cell
    * the documents appear in exactly the relative order [[shardAssign]]
    * gives them (same "shard#"/"ord#" salts, so the curriculum is a
    * stable stratification of the existing layout, not a new
    * permutation). Stage cutoffs are basis-point thresholds on the
    * integer-rounded [[qualityExpr]] score (descending: docs at or
    * above `cutoffsBp(i)` land in stage i; the rest in stage
    * `cutoffsBp.size`).
    *
    * Scale shape: scan-side score + stage CASE, then ONE ranking
    * window partitioned by (stage, shard) — parallelism = stages ×
    * shards, same bound as the pack layout's own window; the token
    * payload never moves (a reader joins on doc_id at consume time). */
  def curriculumOrder(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int, cutoffsBp: Seq[Int]): DataFrame = {
    require(cutoffsBp == cutoffsBp.sorted.reverse && cutoffsBp.nonEmpty,
      s"cutoffsBp must be non-empty descending, got $cutoffsBp")
    val idStr = col(idCol).cast("string")
    val qBp = round(qualityExpr(col(textCol)) * lit(10000.0), 0).cast("long")
    val stage = cutoffsBp.zipWithIndex.foldRight(
      lit(cutoffsBp.size.toLong): Column) { case ((cut, i), rest) =>
      when(qBp >= cut.toLong, i.toLong).otherwise(rest)
    }
    val w = Window.partitionBy(col("stage"), col("shard"))
      .orderBy(col("ord").asc, col(idCol).asc)
    docs.select(col(idCol), stage.as("stage"),
        pmod(Dedup.md5h60(concat(lit("shard#"), idStr)), lit(nShards.toLong))
          .as("shard"),
        Dedup.md5h60(concat(lit("ord#"), idStr)).as("ord"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("stage"), col("shard"), col("pos"))
  }

  // Gopher / MassiveWeb document-quality rule constants (Rae et al.,
  // "Scaling Language Models: ... Gopher", 2021, §A1.1) — the published
  // thresholds, verbatim.
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMaxBulletLineFrac = 0.9
  val GopherMaxEllipsisLineFrac = 0.3
  val GopherMinAlphaWordFrac = 0.8
  val GopherMinStopwords = 2
  /** The paper's fixed stop-word octet (distinct-presence count). */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-language stop octets for [[gopherRulesByLang]] — the paper's
    * English octet applied to a multilingual corpus silently fails
    * every non-English doc's stop rule (zero hits ≠ low quality), so
    * the production form keys the table on the doc's language: common
    * function words per language (public frequency lists), 8 per
    * language to keep the ≥2-present threshold's meaning. Unknown
    * languages fall back to the English octet (the paper's behavior,
    * documented rather than silent). */
  val gopherStopsByLang: Seq[(String, Seq[String])] = Seq(
    "en" -> gopherStops,
    "de" -> Seq("der", "die", "das", "und", "zu", "von", "mit", "ist"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "con", "es"),
    "fr" -> Seq("le", "la", "les", "et", "de", "que", "est", "dans"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "这", "不"))

  /** Languages whose scripts are UNSEGMENTED (no spaces between
    * words): a token-membership stop probe is a silent no-op there —
    * "的" never appears as a standalone whitespace token inside
    * running Chinese text — so these languages probe stop PRESENCE as
    * a substring of the raw text instead (same distinct-presence
    * count, different membership relation). */
  val gopherSubstringLangs: Set[String] = Set("zh")

  /** The Gopher document-quality rule set — one boolean per published
    * rule plus the conjunctive keep. All scan-side integer counting;
    * the only doubles are single divisions of exact integers, so every
    * threshold comparison is deterministic cross-engine. Rules whose
    * trigger can't occur in a corpus (e.g. bullet lines in single-line
    * text) still evaluate faithfully — the operator is the published
    * filter, not a corpus-tuned subset. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    gopherRulesCore(docs, idCol, textCol, Seq.empty,
      (toks, _) => size(filter(typedlit(gopherStops),
        s => array_contains(toks, s))))

  /** [[gopherRules]] with the stop table keyed on the doc's language
    * ([[gopherStopsByLang]]) — the SAME distinct-presence seam, the
    * stop octet selected by a scan-side CASE chain (the UrlOps
    * bounded-table idiom: five literal arrays ride inside the
    * expression, nothing joins, nothing shuffles). Unsegmented scripts
    * ([[gopherSubstringLangs]]) probe substring presence in the raw
    * text — token membership is a silent no-op there. Every other rule
    * is byte-identical to the faithful form. */
  def gopherRulesByLang(docs: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame =
    gopherRulesCore(docs, idCol, textCol, Seq(col(langCol)), { (toks, t) =>
      def presentOf(lang: String, stops: Seq[String]) =
        if (gopherSubstringLangs(lang))
          size(filter(typedlit(stops), s => t.contains(s)))
        else
          size(filter(typedlit(stops), s => array_contains(toks, s)))
      gopherStopsByLang.foldLeft(when(lit(false), lit(0))) {
        case (acc, (lang, stops)) =>
          acc.when(col(langCol) === lang, presentOf(lang, stops))
      }.otherwise(size(filter(typedlit(gopherStops),
        s => array_contains(toks, s))))
    })

  private def gopherRulesCore(docs: DataFrame, idCol: String, textCol: String,
      extraCols: Seq[Column],
      stopsPresentOf: (Column, Column) => Column): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nWords = size(toks).cast("long")
    // Σ token lengths == length(text) − #spaces exactly (split on every
    // single space: n delimiters ⇒ n+1 tokens, empty tokens length 0)
    // — the codegen'd scalar identity, where an aggregate(transform(…))
    // fold would materialize a per-token array per doc and run
    // interpreted (the rollingFingerprint lesson)
    val meanWordLen = (length(t) - regexp_count(t, lit(" ")))
      .cast("double") / nWords.cast("double")
    // the paper removes at ratio > 0.1 "for EITHER the hash symbol or
    // the ellipsis" — two INDEPENDENT ratios, not one summed count
    // (6 '#' + 6 '...' per 100 words is kept); both ellipsis spellings
    // count, consistent with the line-end rule
    val nHash = regexp_count(t, lit("#")).cast("long")
    val nEllipsis = (regexp_count(t, lit("\\.\\.\\.")) +
      regexp_count(t, lit("…"))).cast("long")
    val lines = split(t, "\n")
    val nLines = size(lines).cast("long")
    val bulletLines = size(filter(lines, l =>
      l.startsWith("•") || l.startsWith("- ") || l.startsWith("* ")))
      .cast("long")
    val ellipsisLines = size(filter(lines, l =>
      l.endsWith("...") || l.endsWith("…"))).cast("long")
    val alphaWords = size(filter(toks, w => w.rlike("[a-zA-Z]"))).cast("long")
    // distinct-presence count over the caller's stop table (membership
    // probe per stop word — the same shape both engines, so list-dedup
    // semantics can never drift the compare)
    val stopsPresent = stopsPresentOf(toks, t)
    docs.select((col(idCol) +: extraCols) ++ Seq(
      (nWords >= GopherMinWords && nWords <= GopherMaxWords).as("wc_ok"),
      (meanWordLen >= GopherMinMeanWordLen &&
        meanWordLen <= GopherMaxMeanWordLen).as("mwl_ok"),
      (nHash.cast("double") / nWords.cast("double") <= GopherMaxSymbolRatio &&
        nEllipsis.cast("double") / nWords.cast("double") <=
          GopherMaxSymbolRatio).as("symbol_ok"),
      // the paper removes at "MORE THAN 90% / 30%" — the boundary doc
      // is kept, hence <= (not <)
      (bulletLines.cast("double") / nLines.cast("double") <=
        GopherMaxBulletLineFrac).as("bullet_ok"),
      (ellipsisLines.cast("double") / nLines.cast("double") <=
        GopherMaxEllipsisLineFrac).as("ellipsis_ok"),
      (alphaWords.cast("double") / nWords.cast("double") >=
        GopherMinAlphaWordFrac).as("alpha_ok"),
      (stopsPresent >= GopherMinStopwords).as("stop_ok")): _*)
      .withColumn("keep",
        col("wc_ok") && col("mwl_ok") && col("symbol_ok") &&
          col("bullet_ok") && col("ellipsis_ok") && col("alpha_ok") &&
          col("stop_ok"))
  }

  /** Token counting three ways: whitespace, word-regex, and a BPE-ish
    * chars/4 estimate (the standard budget heuristic). */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      size(tokens(t)).cast("long").as("ws_tokens"),
      regexp_count(t, lit("[a-z0-9]+")).cast("long").as("word_tokens"),
      ceil(length(t).cast("double") / 4.0).cast("long").as("bpe_est"))
  }

  /** Deterministic training-output sharding — the LAST stage of a
    * curation pipeline: every doc gets a shard and a pseudo-random
    * position within it, both pure md5 functions of the id (salted
    * separately, so shard and order are independent). No RNG, no seed
    * plumbing: re-runs, engines, and repartitionings all agree, and a
    * resumed job re-derives the exact same layout.
    *
    * Scale shape: the hashes are scan-side; the only shuffle is the
    * per-shard ranking window, keyed by shard — nShards in the
    * thousands bounds each window partition to corpus/nShards and
    * parallelizes the sort across shards. */
  def shardAssign(docs: DataFrame, idCol: String,
      nShards: Int): DataFrame = {
    val idStr = col(idCol).cast("string")
    val w = Window
      .partitionBy(col("shard")).orderBy(col("ord"), col(idCol))
    docs.select(col(idCol),
        pmod(Dedup.md5h60(concat(lit("shard#"), idStr)), lit(nShards.toLong))
          .as("shard"),
        Dedup.md5h60(concat(lit("ord#"), idStr)).as("ord"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Seeded deterministic EPOCH SHUFFLE of the packed layout —
    * training readers consume a fresh permutation of the packed
    * sequences each epoch, and it must be reproducible (a resumed or
    * re-run job re-derives the identical epoch order). For every
    * epoch, each shard's occupied sequence ids (0 ..
    * ceil(shard_tokens/budget)-1, exactly the seq_ids the materialized
    * layout emits) are ranked by a salted md5 of
    * (seed, epoch, shard, seq_id) — pure column arithmetic, no RNG
    * state, cross-engine exact. Output: (epoch, shard, seq_id,
    * seq_pos) where seq_pos is the sequence's position in that
    * epoch's read order for its shard.
    *
    * Scale shape: the input is per-SHARD token totals (one partial agg
    * over the scan — nShards rows), exploded to one row per SEQUENCE:
    * the permutation table is budget× smaller than the token table and
    * epochs× that. The only exchange is the per-(epoch, shard) ranking
    * window — partitions bounded by sequences-per-shard, parallel
    * across epochs × shards; the token payload itself never moves (a
    * reader joins this table on (shard, seq_id) at consume time). */
  def packEpochShuffleCounted(docs: DataFrame, idCol: String, nShards: Int,
      budget: Int, epochs: Int, seed: Long, nTokens: Column): DataFrame = {
    // sequence(0, epochs-1) DESCENDS for epochs <= 0 and would emit
    // phantom epochs [0, -1]; budget <= 0 would be a confusing div-0
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val idStr = col(idCol).cast("string")
    val totals = docs.select(
        pmod(Dedup.md5h60(concat(lit("shard#"), idStr)), lit(nShards.toLong))
          .as("shard"),
        nTokens.cast("long").as("n_tokens"))
      .groupBy(col("shard")).agg(sum(col("n_tokens")).as("total"))
      .filter(col("total") > 0L)
    val seqs = totals.select(col("shard"),
      explode(sequence(lit(0L),
        expr(s"(total - 1) div ${budget.toLong}L"))).as("seq_id"))
    val withEpoch = seqs.select(
      explode(sequence(lit(0L), lit((epochs - 1).toLong))).as("epoch"),
      col("shard"), col("seq_id"))
    val key = Dedup.md5h60(concat(lit(s"shuf$seed#"),
      col("epoch").cast("string"), lit("#"),
      col("shard").cast("string"), lit("#"),
      col("seq_id").cast("string")))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(key.asc, col("seq_id").asc)
    withEpoch
      .withColumn("seq_pos", row_number().over(w).cast("long") - 1L)
      .select(col("epoch"), col("shard"), col("seq_id"), col("seq_pos"))
  }

  /** Concat-and-chunk sequence packing (the pretraining layout): each
    * shard's documents, taken in the [[shardAssign]] order, are
    * conceptually concatenated and cut into fixed `budget`-token
    * training sequences — a document may straddle a cut. Output per
    * doc: its shard/pos, token count, the first and last sequence ids
    * it lands in, and its token offset inside the first one. Greedy
    * whole-doc bin packing is inherently sequential state; the
    * concat-and-chunk policy is the one large pipelines actually use
    * AND is a pure prefix-sum — cross-engine exact.
    *
    * Scale shape: one shuffle on shard, then TWO per-shard window
    * passes (rank + running token sum) over the same partitioning —
    * Catalyst fuses them into one sort, no second exchange. The
    * running sum is integer (exact, order-locked by the unique (ord,
    * id) sort key); everything downstream is scan-side arithmetic. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int, budget: Int): DataFrame = {
    val rows = shardPackRows(docs, idCol, textCol, nShards)
    packColumns(rows, idCol, budget, lit(0L), lit(0L))
  }

  /** [[packSequences]] under an ALTERNATE token denomination: `countOf`
    * maps the text column to its token count (canonically a trained
    * BPE count, [[graft.functions.BpeTokenCount]] — sequence budgets
    * are subword-denominated in real training pipelines, and a
    * whitespace proxy skews pack layouts on real corpora). Plan shape
    * is identical: the count is scan-side whatever the denomination. */
  def packSequencesWith(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int, budget: Int, countOf: Column => Column): DataFrame =
    packColumns(
      shardPackRowsCounted(docs, idCol, nShards, countOf(col(textCol))),
      idCol, budget, lit(0L), lit(0L))

  /** The shared windowing body of [[packSequences]] and the streaming
    * pack-ingest loop: shard/order hashes, token counts, and the
    * per-shard rank (`bpos`) + running token sum (`bcum`) WITHIN
    * `docs`. A consumer adds its own base offsets. */
  private[graft] def shardPackRows(docs: DataFrame, idCol: String,
      textCol: String, nShards: Int): DataFrame =
    shardPackRowsCounted(docs, idCol, nShards, size(tokens(col(textCol))))

  /** [[shardPackRows]] over an arbitrary token-count expression — the
    * ONE denomination seam (whitespace default; BPE via
    * [[packSequencesWith]]), so the window/hash arithmetic exists
    * exactly once. */
  private[graft] def shardPackRowsCounted(docs: DataFrame, idCol: String,
      nShards: Int, nTokens: Column): DataFrame = {
    val idStr = col(idCol).cast("string")
    val w = Window
      .partitionBy(col("shard")).orderBy(col("ord"), col(idCol))
    docs.select(col(idCol),
        pmod(Dedup.md5h60(concat(lit("shard#"), idStr)), lit(nShards.toLong))
          .as("shard"),
        Dedup.md5h60(concat(lit("ord#"), idStr)).as("ord"),
        nTokens.cast("long").as("n_tokens"))
      .withColumn("bpos", row_number().over(w).cast("long"))
      .withColumn("bcum", sum(col("n_tokens"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Finish [[shardPackRows]] into the packed layout on top of
    * per-shard base offsets (lit(0) for the batch operator; a store's
    * accumulated totals for the ingest loop — ONE arithmetic, so the
    * two can't drift). */
  private[graft] def packColumns(rows: DataFrame, idCol: String,
      budget: Int, baseDocs: Column, baseToks: Column): DataFrame = {
    // INTEGRAL division (SQL `div` = IntegralDivide), not Column `/`:
    // `/` promotes to double, which silently loses low bits once a
    // shard's cumulative token count passes 2^53 — the unbounded
    // streaming pack loop feeds exactly that accumulator here. Both
    // operands are nonnegative longs (tokens >= 1 always — split("")
    // = [""] — so cum > prev and seq_last >= seq_first), matching the
    // oracle's `//` exactly at every scale.
    rows.withColumn("gcum", baseToks + col("bcum"))
      .withColumn("gprev", col("gcum") - col("n_tokens"))
      .select(col(idCol), col("shard"),
        (baseDocs + col("bpos")).as("pos"), col("n_tokens"),
        expr(s"gprev div ${budget}L").as("seq_first"),
        expr(s"(gcum - 1L) div ${budget}L").as("seq_last"),
        pmod(col("gprev"), lit(budget.toLong)).as("seq_offset"))
  }

  /** Padded sequence packing — the OTHER training layout: a document
    * never straddles a sequence boundary it could avoid. Documents are
    * taken in the [[shardAssign]] order; if the current sequence's
    * remainder can't hold the next whole document, the remainder is
    * padded out (`pad_before` tokens) and the document starts a fresh
    * sequence at offset 0. Only a document LONGER than the budget ever
    * crosses a boundary (it starts at offset 0 and spans
    * ceil(n/budget) sequences — the unavoidable case). This is the
    * no-cross-doc-attention layout (SFT / document-isolated
    * pretraining); [[packSequences]] is the dense concat-and-chunk
    * layout. Output adds `pad_before` so Σ(pad_before + n_tokens) per
    * shard reconstructs the physical token stream exactly.
    *
    * Unlike concat-and-chunk, the padded layout is NOT a prefix sum:
    * each document's start slot depends on every earlier pad decision
    * (offset_{i+1} = f(offset_i), no closed form), so the per-shard
    * fold is genuinely sequential state — the documented last-resort
    * case for `mapPartitions`. Scale shape: the ONE shard exchange +
    * sort come from [[shardPackRows]]'s window (the explicit
    * `sortWithinPartitions` restates the ordering contract and is
    * elided by the planner — plan-pinned one exchange / one sort);
    * the fold itself is a narrow per-partition pass, O(1) state per
    * shard, parallel across shards exactly like the training-output
    * writers that consume it. Hash partitioning never splits a shard
    * across partitions, so each shard is one contiguous, ordered run
    * and the fold resets state on the shard boundary. */
  def packSequencesPadded(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int, budget: Int): DataFrame =
    paddedPackColumns(
      shardPackRows(docs, idCol, textCol, nShards)
        .withColumn("base_docs", lit(0L))
        .withColumn("base_seq", lit(0L))
        .withColumn("base_off", lit(0L)),
      idCol, budget)
      .drop("next_seq", "next_off")

  /** The shared per-shard fold of [[packSequencesPadded]] and the
    * streaming padded-pack ingest loop: rows are [[shardPackRows]]
    * output plus per-shard resume state (`base_docs`/`base_seq`/
    * `base_off` — lit(0) for the batch operator; a store's carried
    * state for the ingest loop — ONE arithmetic, so the two can't
    * drift). Every row of a shard carries the same base triple; the
    * fold re-seeds from it on each shard boundary. The explicit
    * `sortWithinPartitions` restates the ordering contract the window
    * already established and is elided by the planner (plan-pinned:
    * the fold adds no exchange and no second sort).
    *
    * Every output row also carries the fold's state AFTER the row
    * (`next_seq`/`next_off`) — the resume triple an ingest loop
    * persists is then a per-shard last-row SELECTION, never a
    * re-derivation of the recurrence (the batch operator drops the
    * two columns). */
  private[graft] def paddedPackColumns(rows: DataFrame, idCol: String,
      budget: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val sorted = rows.sortWithinPartitions(col("shard"), col("ord"), col(idCol))
    val sch = sorted.schema
    val iId = sch.fieldIndex(idCol)
    val iShard = sch.fieldIndex("shard")
    val iPos = sch.fieldIndex("bpos")
    val iTok = sch.fieldIndex("n_tokens")
    val iBDocs = sch.fieldIndex("base_docs")
    val iBSeq = sch.fieldIndex("base_seq")
    val iBOff = sch.fieldIndex("base_off")
    val outSchema = StructType(Array(
      sch(iId), StructField("shard", LongType, nullable = false),
      StructField("pos", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("seq_first", LongType, nullable = false),
      StructField("seq_last", LongType, nullable = false),
      StructField("seq_offset", LongType, nullable = false),
      StructField("pad_before", LongType, nullable = false),
      StructField("next_seq", LongType, nullable = false),
      StructField("next_off", LongType, nullable = false)))
    val b = budget.toLong
    sorted.mapPartitions { it =>
      var curShard = Long.MinValue
      var baseDocs = 0L
      var nextSeq = 0L
      var nextOff = 0L
      it.map { r =>
        val shard = r.getLong(iShard)
        if (shard != curShard) {
          curShard = shard
          baseDocs = r.getLong(iBDocs)
          nextSeq = r.getLong(iBSeq)
          nextOff = r.getLong(iBOff)
        }
        val n = r.getLong(iTok)
        val pad = if (nextOff > 0 && nextOff + n > b) b - nextOff else 0L
        val startSeq = if (pad > 0) nextSeq + 1 else nextSeq
        val startOff = if (pad > 0) 0L else nextOff
        val seqLast = startSeq + (startOff + n - 1) / b
        val endOff = (startOff + n) % b
        nextSeq = if (endOff == 0) seqLast + 1 else seqLast
        nextOff = endOff
        Row(r.get(iId), shard, baseDocs + r.getLong(iPos), n,
          startSeq, seqLast, startOff, pad, nextSeq, nextOff)
      }
    }(Encoders.row(outSchema))
  }

  /** Token-budget sampling — keep the maximal PREFIX of the corpus, in
    * a deterministic salted-hash priority order, whose running token
    * sum stays within `budgetTokens` (the "give me ~N tokens of this
    * corpus, reproducibly" primitive; the doc that would cross the
    * budget and everything after it is dropped — prefix semantics, no
    * back-filling, so the kept set is a pure function of the corpus).
    *
    * The naive form is a GLOBAL-order running sum — one Window with no
    * partition key, the exact shape this codebase bans at scale. The
    * scale-safe decomposition: the priority hash's TOP bits define
    * `nBuckets` order-aligned ranges (bucket = h div 2^60/nBuckets, so
    * bucket order == priority order); a partial agg reduces the corpus
    * to ≤ nBuckets (bucket, token-sum) rows; the driver prefix-sums
    * that bounded table (same deliberately-bounded-collect contract as
    * IVF training) to find the ONE boundary bucket; every earlier
    * bucket keeps scan-side, every later bucket drops scan-side, and
    * only the boundary bucket — 1/nBuckets of the corpus — runs an
    * exact windowed cumsum (partitioned BY bucket), offset by the
    * exact integer mass before it. Identical output to the global
    * window at any scale. */
  def tokenBudgetSample(docs: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long, nBuckets: Int = 4096): DataFrame =
    tokenBudgetSampleWith(docs, idCol, textCol, budgetTokens, nBuckets,
      t => size(tokens(t)))

  /** [[tokenBudgetSample]] under an alternate token denomination
    * (`countOf` — canonically a trained BPE count): the budget a real
    * pipeline holds is subword-denominated. Identical scale-safe
    * bucket decomposition; only the scan-side count expression moves. */
  def tokenBudgetSampleWith(docs: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long, nBuckets: Int,
      countOf: Column => Column): DataFrame = {
    require(budgetTokens >= 0, s"budget must be >= 0, got $budgetTokens")
    require(nBuckets >= 1 && (1L << 60) % nBuckets == 0,
      s"nBuckets must divide 2^60, got $nBuckets")
    val bucketWidth = (1L << 60) / nBuckets
    val h = Dedup.md5h60(concat(lit("budget#"), col(idCol).cast("string")))
    // lazy checkpoint: the bucket-sum collect below materializes the
    // (id, h, n_tokens, bucket) projection ONCE — 4 longs/doc — and the
    // keep/boundary branches read the checkpointed blocks instead of
    // re-scanning and re-hashing the text twice more
    val scored = docs.select(col(idCol), h.as("h"),
        countOf(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"h div ${bucketWidth}L"))
      .seamCheckpoint(false)
    // ≤ nBuckets rows — the documented bounded driver collect
    val bucketSums = scored.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("toks"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L
    var boundary = -1L   // first bucket whose full inclusion would overflow
    var massBefore = 0L  // exact token mass of all buckets before it
    bucketSums.foreach { case (b, t) =>
      if (boundary < 0) {
        if (cum + t > budgetTokens) { boundary = b; massBefore = cum }
        else cum += t
      }
    }
    if (boundary < 0)  // whole corpus fits
      return scored.select(col(idCol), col("n_tokens"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBoundary = scored.filter(col("bucket") === boundary)
      .withColumn("cum", sum(col("n_tokens")).over(w) + massBefore)
      .filter(col("cum") <= budgetTokens)
    scored.filter(col("bucket") < boundary)
      .select(col(idCol), col("n_tokens"))
      .unionByName(inBoundary.select(col(idCol), col("n_tokens")))
  }

  /** Deterministic train/validation/test split — the holdout
    * assignment every training pipeline runs last: each doc's split is
    * a pure salted-md5 function of its id (same family as
    * [[shardAssign]]'s hashes — no RNG, no seed plumbing; re-runs,
    * engines and repartitionings agree, and adding documents never
    * moves an existing doc's split). Basis-point thresholds: id-hash
    * < trainBp → train, < trainBp+validBp → valid, else test. Pure
    * scan-side projection — composes in FRONT of the layout operators
    * (pack the train split, hold the rest out). */
  def splitAssign(docs: DataFrame, idCol: String,
      trainBp: Int, validBp: Int): DataFrame = {
    require(trainBp >= 0 && validBp >= 0 && trainBp + validBp <= 10000,
      s"split basis points must be >= 0 and sum <= 10000, " +
        s"got train=$trainBp valid=$validBp")
    val h = pmod(graft.operators.Dedup.md5h60(
      concat(lit("split#"), col(idCol).cast("string"))), lit(10000L))
    docs.select(col(idCol),
      when(h < trainBp, lit("train"))
        .when(h < trainBp + validBp, lit("valid"))
        .otherwise(lit("test")).as("split"))
  }

  /** Context-length cap — truncate each document to its first
    * `maxTokens` whitespace tokens (the standard pre-tokenization
    * budget guard: a pathological mega-document must not blow up a
    * downstream packer or tokenizer). Output: (doc_id, text truncated,
    * n_tokens_orig, truncated flag). Pure scan-side Column arithmetic
    * (slice + re-join) — codegen'd, no shuffle, no row amplification;
    * composes in front of [[packSequences]]/[[packSequencesPadded]]
    * the way a real pipeline caps before layout. */
  def truncateTokens(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    val toks = tokens(col(textCol))
    val n = size(toks).cast("long")
    docs.select(
      col(idCol),
      when(n > maxTokens, array_join(slice(toks, 1, maxTokens), " "))
        .otherwise(col(textCol)).as("text"),
      n.as("n_tokens_orig"),
      (n > maxTokens).as("truncated"))
  }

  /** Fixed-window document chunking with overlap — the embedding-prep
    * primitive (RAG / similarity indexing: a long document embeds as
    * overlapping windows so no span is split from its context at every
    * boundary): chunks of `chunkTokens` whitespace tokens starting
    * every `chunkTokens - overlap` tokens, last chunk short, a doc at
    * or under the window emitting exactly one chunk equal to itself
    * (re-joining the FULL token list is the identity for single-space
    * text; sub-window docs emit one chunk covering all tokens, so the
    * branch never matters cross-engine — both engines slice the same
    * list). Output: (doc_id, chunk_idx from 0, text, n_tokens).
    *
    * Scale shape: pure scan-side slice arithmetic with bounded,
    * intentional row amplification (≈ n/stride rows per doc — the
    * output IS the workload); no shuffle, no window, no join. Pairs
    * with [[truncateTokens]] in front (cap pathological docs before
    * amplifying) and an embedding stage behind. */
  /** THE chunk-start rule — 1, 1+stride, … while a start still ADDS
    * uncovered tokens (start <= n - overlap, floor 1): every token is
    * covered, consecutive chunks share `overlap` tokens, the final
    * chunk may be short, and no chunk is pure re-overlap of its
    * predecessor. One definition: [[chunkDocuments]] and
    * [[chunkLossMask]] both consume it, so the loss ranges can never
    * desynchronize from the actual chunks. */
  private def chunkStarts(n: Column, chunkTokens: Int,
      overlap: Int): Column = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap")
    sequence(lit(1), greatest(n - overlap, lit(1)),
      lit(chunkTokens - overlap))
  }

  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    val toks = tokens(col(textCol))
    val starts = chunkStarts(size(toks), chunkTokens, overlap)
    docs.select(col(idCol), toks.as("toks"), posexplode(starts))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        array_join(slice(col("toks"), col("col"), lit(chunkTokens)), " ")
          .as("text"),
        least(lit(chunkTokens), size(col("toks")) - col("col") + 1)
          .cast("long").as("n_tokens"))
  }

  /** Per-chunk loss ranges for overlap-chunked training: the first
    * `overlap` tokens of every NON-FIRST chunk are masked from the
    * loss, so each corpus token contributes gradient exactly once (the
    * standard sliding-window convention — the overlapping prefix is
    * context, not target). Emits [[chunkDocuments]]' chunks with their
    * UNMASKED token range in 1-based document coordinates:
    * `[loss_from, loss_to]`; across a document's chunks the ranges
    * partition `[1, n_doc_tokens]` exactly (spec-pinned). No-overlap
    * chunking degenerates to loss_from = start. Pure scan-side
    * arithmetic on top of the chunk starts — no shuffle, no join. */
  def chunkLossMask(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    val n = size(tokens(col(textCol)))
    val starts = chunkStarts(n, chunkTokens, overlap)
    docs.select(col(idCol), n.as("n"), posexplode(starts))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        (col("col") + when(col("pos") > 0, lit(overlap)).otherwise(lit(0)))
          .cast("long").as("loss_from"),
        least(col("col") + chunkTokens - 1, col("n"))
          .cast("long").as("loss_to"))
  }

  /** Fingerprints: rolling content hash + md5. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      rollingFingerprint(col(textCol)).as("rolling_fp"),
      md5(col(textCol)).as("md5_fp"))

  /** Deterministic stratified sampler for training-data mixture control
    * (down-weight overrepresented languages/sources, keep rare strata):
    * per-row Bernoulli keep gated by an md5-derived hash of
    * (stratum, id). No RNG and no seed plumbing — the decision is a
    * pure function of the row, reproducible across engines, runs, and
    * re-partitioning, and the comparison is integer-only (rates in
    * basis points) so no float boundary can flip cross-engine. At
    * 100 TB it is a scan-side filter: no shuffle, no pre-pass, and
    * Parquet never materializes dropped rows past the scan. */
  def stratifiedSample(docs: DataFrame, strataCol: String, idCol: String,
      ratesBp: Map[String, Int], defaultBp: Int = 10000): DataFrame = {
    require(ratesBp.values.forall(r => r >= 0 && r <= 10000) &&
      defaultBp >= 0 && defaultBp <= 10000, "rates are basis points (0..10000)")
    val bp = ratesBp.foldLeft(lit(defaultBp)) { case (acc, (k, r)) =>
      when(col(strataCol) === k, lit(r)).otherwise(acc)
    }
    val gate = pmod(graft.operators.Dedup.md5h60(
      concat(col(strataCol), lit("#"), col(idCol).cast("string"))), lit(10000L))
    docs.filter(gate < bp)
  }

  /** Per-source repeat-factor upsampling — the data-recipe knob where a
    * mixture table assigns EPOCHS per corpus (high-quality sources see
    * the optimizer several times per pass; the published LLaMA-1 recipe
    * is the canonical example): a factor of 2.5 emits every doc twice
    * plus a deterministic 50% of docs a third time. Factors in basis
    * points (10000 = one epoch) so fractional epochs are integer
    * arithmetic: copies = bp / 10000 + (md5-gate < bp % 10000), the
    * same seedless md5 idiom as [[stratifiedSample]] (reproducible
    * across engines/runs/partitionings; down-sampling below one epoch
    * and factor-0 exclusion fall out of the same formula). Emits one
    * row per (doc, copy), copy = 0..copies−1 — scan-side bounded row
    * amplification, no shuffle, no RNG; the factor table is a bounded
    * CASE chain (an open source set would ride a broadcast join at the
    * same seam). Downstream, `copy` joins the shard/order hash salt so
    * replicas spread independently ([[shardAssign]]'s contract). */
  def repeatFactorSample(docs: DataFrame, idCol: String, sourceCol: String,
      factorsBp: Map[String, Int], defaultBp: Int = 10000): DataFrame = {
    require(factorsBp.values.forall(_ >= 0) && defaultBp >= 0,
      "factors are basis points >= 0 (10000 = one epoch)")
    val bp = factorsBp.foldLeft(lit(defaultBp)) { case (acc, (k, r)) =>
      when(col(sourceCol) === k, lit(r)).otherwise(acc)
    }
    val gate = pmod(graft.operators.Dedup.md5h60(
      concat(lit("rep#"), col(idCol).cast("string"))), lit(10000L))
    val copies = floor(bp / lit(10000)).cast("int") +
      when(gate < pmod(bp, lit(10000)), lit(1)).otherwise(lit(0))
    docs.select(col(idCol), col(sourceCol), copies.as("copies"))
      .filter(col("copies") > 0)
      .select(col(idCol), col(sourceCol),
        explode(sequence(lit(0), col("copies") - 1)).as("copy0"))
      .select(col(idCol), col(sourceCol),
        col("copy0").cast("long").as("copy"))
  }

  /** Temperature-based mixture resampling (the α = 0.5 source-rebalance
    * of multilingual/multi-source training mixes): sampling share per
    * source q_s ∝ sqrt(n_s), so a source's per-doc keep rate is
    * targetRows / (Σ_t sqrt(n_t) · sqrt(n_s)) — over-represented
    * sources are down-sampled, rare sources boosted (capped at keeping
    * everything). Unlike [[stratifiedSample]], the rates are COMPUTED
    * from the corpus, not caller-supplied: one partial-agg count per
    * source (tiny — |sources| rows), one 1-row total, broadcast back as
    * per-source basis points, then the same deterministic md5 gate —
    * still no corpus shuffle, and the gate stays a scan-side filter.
    *
    * Cross-engine determinism: Σ sqrt(n_t) is summed as DECIMAL(30,15)
    * — decimal addition is exact, hence order-independent, where a
    * double sum would expose the aggregation order in the last ulp
    * (sqrt of an integer either is an exact integer or doesn't
    * terminate at 15 digits, so the double→decimal rounding can't tie);
    * the remaining arithmetic is written with the identical expression
    * shape in the DuckDB oracle, and the final keep test is
    * integer-only (basis points). */
  def temperatureSample(docs: DataFrame, sourceCol: String, idCol: String,
      targetRows: Long): DataFrame =
    temperatureSampleMass(docs, sourceCol, idCol, lit(1L), targetRows)

  /** [[temperatureSample]] over an arbitrary per-doc MASS column —
    * the denomination seam: training mixtures are specified over TOKEN
    * mass, not document counts (a source of few long documents and one
    * of many snippets with equal doc counts are very different
    * training weights), so the α=0.5 per-source weight becomes
    * sqrt(Σ mass) while the keep gate stays per-document. mass =
    * lit(1) recovers the doc-count form exactly (Σ1 = count). Scale
    * shape unchanged: one partial-agg over the scan per source (the
    * mass expression evaluates scan-side), a bounded per-source rate
    * table broadcast back, filter scan-side; the decimal(30,15) sum of
    * sqrt keeps the total order-independent cross-engine. */
  def temperatureSampleMass(docs: DataFrame, sourceCol: String, idCol: String,
      mass: Column, targetMass: Long): DataFrame = {
    // a zero-mass source contributes nothing to the mixture and keeps
    // nothing (dropped by the inner rate join) — without the filter its
    // zero denominator floors Infinity to the keep-everything cap in
    // Spark and errors in a DuckDB twin of the same arithmetic
    val counts = docs.groupBy(col(sourceCol)).agg(sum(mass).as("n_s"))
      .filter(col("n_s") > 0L)
    val total = counts.agg(
      sum(sqrt(col("n_s")).cast("decimal(30,15)")).cast("double").as("sum_sqrt"))
    val rates = counts.crossJoin(broadcast(total))
      .select(col(sourceCol),
        least(lit(10000L),
          floor((lit(10000.0) * lit(targetMass.toDouble)) /
            (col("sum_sqrt") * sqrt(col("n_s"))))).as("rate_bp"))
    val gate = pmod(graft.operators.Dedup.md5h60(
      concat(col(sourceCol), lit("#"), col(idCol).cast("string"))), lit(10000L))
    docs.join(broadcast(rates), Seq(sourceCol))
      .filter(gate < col("rate_bp"))
  }

  /** The mixture-rate SOLVER — the inverse of the sampling gates: given
    * target token SHARES per group (basis points — the DoReMi-style
    * mixture weights a data recipe specifies), compute the per-group
    * keep rates that ACHIEVE them at the maximum feasible corpus size.
    * The binding group (the one whose share demands the most of its
    * available mass) keeps everything up to floor rounding — the
    * double floor (T = min_s ⌊m_s·10⁴/t_s⌋, then rate_s = ⌊T·t_s/m_s⌋)
    * can leave its rate_bp a hair under 10⁴ (e.g. m=7 tokens at target
    * 3000 bp → 9857), so targets are achieved to within one token's
    * rounding, never exactly pinned; every other group downsamples to
    * hold the ratio: T is the largest total mass all targets can be
    * cut from, and rate_s = ⌊T·t_s/m_s⌋ ≤ 10⁴.
    * Groups without a target (or with zero mass) are dropped — a recipe
    * names its sources.
    *
    * All arithmetic is exact integer division (floor on positives ==
    * `div`/`//` on both engines); overflow-safe while m_s·10⁴ < 2⁶³.
    * Scale shape: ONE partial-agg mass pass; the solver runs over
    * |groups| rows (broadcast); nothing corpus-sized past the scan.
    * Output: (group, n_tokens, target_bp, rate_bp, expected_tokens). */
  def mixtureRatesForTarget(docs: DataFrame, groupCol: String, mass: Column,
      targetBp: Map[String, Int]): DataFrame = {
    require(targetBp.nonEmpty &&
      targetBp.values.forall(v => v > 0 && v <= 10000) &&
      targetBp.values.sum <= 10000,
      "targets are positive basis points summing to <= 10000")
    val tgt = targetBp.foldLeft(lit(0)) { case (acc, (k, v)) =>
      when(col(groupCol) === k, lit(v)).otherwise(acc)
    }
    val counts = docs.groupBy(col(groupCol)).agg(sum(mass).as("n_s"))
      .filter(col("n_s") > 0L)
      .withColumn("target_bp", tgt.cast("long"))
      .filter(col("target_bp") > 0L)
    val k = counts.agg(min(expr("n_s * 10000 div target_bp")).as("t_total"))
    counts.crossJoin(broadcast(k))
      .withColumn("rate_bp",
        least(lit(10000L), expr("(t_total * target_bp) div n_s")))
      .select(col(groupCol), col("n_s").as("n_tokens"), col("target_bp"),
        col("rate_bp"), expr("(n_s * rate_bp) div 10000").as("expected_tokens"))
  }

  /** Corpus-RELATIVE quality floor: keep the top `keepFrac` of docs by
    * quality score, ties at the boundary value included (value-based,
    * so the keep set is deterministic and partition-independent).
    *
    * The cutoff comes from a HISTOGRAM of the 4-decimal-rounded score
    * (quality_bp = round(quality·10⁴) — integer), so every step is
    * integer-exact cross-engine and the intermediate is bounded by the
    * VALUE DOMAIN (≤ 10⁴+1 rows), not the corpus: the groupBy is a
    * partial agg over the scan, the cumulative window runs over the
    * tiny histogram (the one place a global window is safe — its input
    * cannot grow with the data), and the scalar cutoff broadcasts back
    * onto a scan-side filter. An exact percentile aggregate over raw
    * doubles would carry corpus-sized state and a float-interpolated
    * cutoff whose last ulp could disagree across engines. */
  /** quality_bp = the quality score as integer basis points (4-decimal
    * rounding × 10⁴) — the value-domain-bounded histogram key, shared
    * by the batch floor and its streaming twin
    * ([[graft.streaming.QualityFloorStore]]) so the two can't drift. */
  def qualityBp(t: Column): Column =
    round(qualityExpr(t) * 10000).cast("long")

  /** 1-row (cutoff) table from a (quality_bp, c) histogram: the largest
    * quality_bp whose descending-cumulative count reaches
    * ceil(n · keepFrac) — ties at the boundary value included. The one
    * global window runs over the histogram (≤ 10⁴+1 rows by value
    * domain — the one place a global window is safe), never the corpus.
    * Shared by the batch floor and the streaming store's publish step:
    * identical arithmetic, identical cutoff. */
  private[graft] def cutoffFromHistogram(hist: DataFrame,
      keepFrac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = hist.agg(coalesce(sum(col("c")), lit(0L)).as("n"))
    val w = Window.orderBy(col("quality_bp").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(n))
      .filter(col("cum") >= ceil(col("n") * lit(keepFrac)))
      .agg(max(col("quality_bp")).as("cutoff"))
  }

  def qualityFloor(docs: DataFrame, idCol: String, textCol: String,
      keepFrac: Double): DataFrame = {
    // keepFrac <= 0 degenerates (ceil(n*0) = 0 qualifies every bucket →
    // only the top bucket kept); keepFrac > 1 empties the cutoff agg
    // and silently drops everything — both are caller bugs, fail loudly
    require(keepFrac > 0 && keepFrac <= 1,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val q = docs.select(col(idCol), qualityBp(col(textCol)).as("quality_bp"))
    val hist = q.groupBy(col("quality_bp")).agg(count(lit(1)).as("c"))
    val cutoff = cutoffFromHistogram(hist, keepFrac)
    q.crossJoin(broadcast(cutoff))
      .filter(col("quality_bp") >= col("cutoff"))
      .select(col(idCol), col("quality_bp"))
  }

  /** Per-GROUP corpus-relative quality floor: keep the top `keepFrac`
    * of docs by quality score WITHIN each group (canonically: per
    * language — the published quality heuristics are
    * language-dependent, so a single global floor over a multilingual
    * corpus silently starves whole languages whose score distribution
    * sits lower; CCNet buckets per language for exactly this reason).
    * Ties at each group's boundary value included, so every group's
    * keep set is deterministic and partition-independent.
    *
    * Same decomposition as the global [[qualityFloor]], generalized:
    * the histogram is a partial agg over (group, quality_bp) — bounded
    * by |groups| · (10⁴+1) rows, never the corpus; the cumulative
    * window is PARTITIONED BY GROUP over that histogram (each
    * partition ≤ 10⁴+1 rows by value domain — bounded exactly like the
    * global form's one safe window, and now also splittable across
    * tasks by group); the |groups|-row cutoff table broadcasts back
    * onto a scan-side filter. The corpus itself is never key-shuffled. */
  def qualityFloorByGroup(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, keepFrac: Double): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val q = docs.select(col(idCol), col(groupCol),
      qualityBp(col(textCol)).as("quality_bp"))
    val hist = q.groupBy(col(groupCol), col("quality_bp"))
      .agg(count(lit(1)).as("c"))
    val cutoffs = cutoffsFromGroupedHistogram(hist, groupCol, keepFrac)
    q.join(broadcast(cutoffs), Seq(groupCol))
      .filter(col("quality_bp") >= col("cutoff"))
      .select(col(idCol), col(groupCol), col("quality_bp"))
  }

  /** (group, cutoff) table from a (group, quality_bp, c) histogram —
    * [[cutoffFromHistogram]] partitioned per group: each group's
    * cutoff is the largest quality_bp whose descending-cumulative
    * count reaches ceil(n_group · keepFrac). The window partitions by
    * group over the HISTOGRAM (≤ 10⁴+1 rows per group by value domain
    * — bounded like the global form's one safe window, and
    * task-splittable by group). Shared by the batch grouped floor and
    * the streaming store's publish step: identical arithmetic,
    * identical cutoffs. */
  private[graft] def cutoffsFromGroupedHistogram(hist: DataFrame,
      groupCol: String, keepFrac: Double): DataFrame = {
    val n = hist.groupBy(col(groupCol)).agg(sum(col("c")).as("n"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("quality_bp").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(n), Seq(groupCol))
      .filter(col("cum") >= ceil(col("n") * lit(keepFrac)))
      .groupBy(col(groupCol)).agg(max(col("quality_bp")).as("cutoff"))
  }

  // PII-redaction patterns — deliberately RE2-compatible (no lookaround,
  // no backrefs) so the DuckDB oracle runs the IDENTICAL regexes; the
  // classic cheap scrub pass (a production pipeline would add NER at
  // the same seam). Shared with TextOps' generated oracle SQL.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"

  /** Scrub emails/phones to typed placeholders + count what was
    * scrubbed (the count column is the audit signal — and keeps the
    * cross-engine gate meaningful even on a clean corpus). Scan-side
    * projection: no shuffle, no row amplification. */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    // replacement is sequential (emails first), so the phone count runs
    // over the email-redacted string — n_redacted is exactly the number
    // of placeholders substituted, even when an email contains a
    // phone-shaped substring (the oracle mirrors the same order)
    val emailRedacted = regexp_replace(t, EmailPattern, "<EMAIL>")
    docs.select(
      col(idCol),
      regexp_replace(emailRedacted, PhonePattern, "<PHONE>").as("redacted"),
      (regexp_count(t, lit(EmailPattern)) +
        regexp_count(emailRedacted, lit(PhonePattern))).cast("long").as("n_redacted"))
  }

  // Broader PII patterns (r14) — same RE2-compatible discipline.
  // Deliberately pattern-level cheap scrubs: the IP pattern matches any
  // dotted quad (version strings included) and the card pattern any
  // 16-digit run with uniform separators, no Luhn check — documented
  // recall-over-precision, the production pipeline adds NER/Luhn at
  // this same seam.
  val IpPattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val CardPattern = "[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{3,4}"
  /** All four PII shapes as one token-anchored alternation — the span
    * detector's per-token full-match probe. */
  val PiiTokenPattern: String =
    s"^(?:$EmailPattern|$PhonePattern|$IpPattern|$CardPattern)$$"

  /** [[redactPii]] widened to the full pattern family, with PER-TYPE
    * counts (the audit signal a privacy review reads). Replacement is
    * sequential (email → phone → ip → card), each count taken over the
    * previous step's output, so n_* sum to exactly the placeholders
    * substituted — a phone-shaped run inside an email can't double
    * count, and an already-redacted placeholder can't re-match. Still
    * one scan-side projection: no shuffle, no row amplification. */
  def redactPiiFull(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    val r1 = regexp_replace(t, EmailPattern, "<EMAIL>")
    val r2 = regexp_replace(r1, PhonePattern, "<PHONE>")
    val r3 = regexp_replace(r2, IpPattern, "<IP>")
    docs.select(col(idCol),
      regexp_replace(r3, CardPattern, "<CARD>").as("redacted"),
      regexp_count(t, lit(EmailPattern)).cast("long").as("n_emails"),
      regexp_count(r1, lit(PhonePattern)).cast("long").as("n_phones"),
      regexp_count(r2, lit(IpPattern)).cast("long").as("n_ips"),
      regexp_count(r3, lit(CardPattern)).cast("long").as("n_cards"))
  }

  /** Per-source redaction audit — the [[Dedup.duplicationBy]] rollup
    * shape over [[redactPiiFull]]'s counts: which sources carry the
    * PII mass (the signal that triggers a source-level review or
    * drop). One scan + one partial-agg groupBy on the source key. */
  def redactRateBySource(docs: DataFrame, idCol: String, textCol: String,
      byCol: String): DataFrame =
    redactPiiFull(docs.select(col(idCol), col(byCol), col(textCol)),
        idCol, textCol)
      .join(docs.select(col(idCol), col(byCol)), idCol)
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_phones")).as("n_phones"),
        sum(col("n_ips")).as("n_ips"),
        sum(col("n_cards")).as("n_cards"),
        sum(when(col("n_emails") + col("n_phones") + col("n_ips") +
          col("n_cards") > 0, 1L).otherwise(0L)).as("n_docs_with_pii"))

  /** SPAN-granular redaction — the symmetry closer: decontamination
    * already has doc-level flags AND span-level scrub; redaction had
    * only the in-place replace. Marks each whitespace TOKEN that
    * full-matches a PII shape, then merges adjacent marks into maximal
    * spans with the SAME gaps-and-islands body the substring/
    * decontamination span detectors share ([[Dedup.mergeIslandSpans]],
    * k = 1: abutting PII tokens are one span — an address block
    * redacts as a unit). Output (id, span_start, span_tokens) feeds
    * [[Dedup.stripSpans]] like every other span source.
    * Scale shape: the mark is a scan-side filter over the token
    * explode; the island merge windows per DOCUMENT (bounded by doc
    * length, splittable by doc). Tokens with interior spaces (spaced
    * card forms) are the replace path's job — the token detector's
    * documented recall bound. */
  def redactSpans(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val marked = docs
      .select(col(idCol), posexplode(tokens(col(textCol))))
      .select(col(idCol), col("pos"), col("col").as("tok"))
      .filter(col("tok").rlike(PiiTokenPattern))
      .select(col(idCol), col("pos"))
    Dedup.mergeIslandSpans(marked, idCol, 1)
  }

  /** The rewrite composition: strip every PII span's tokens
    * ([[Dedup.stripSpans]] — the shared rebuild), keeping an audit
    * count. Documents without PII pass through unchanged. */
  def redactStripSpans(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Dedup.stripSpans(docs, redactSpans(docs, idCol, textCol),
      idCol, textCol)

  /** Benchmark decontamination — flag training docs sharing word
    * n-grams with a held-out evaluation set (the train/test-overlap
    * scrub every published pipeline runs): per doc, the count of
    * DISTINCT shingles also present in the benchmark's shingle set.
    * Scale shape: the benchmark side reduces to a distinct shingle set
    * (small vs the corpus — benchmarks are thousands of docs, the
    * corpus is billions); the corpus explodes each doc's distinct
    * shingles once and LEFT SEMI joins them against the benchmark set
    * (broadcast when it fits, AQE decides), then partial-agg counts
    * per doc. The join carries (doc_id, shingle) for candidate
    * shingles only; full doc rows are never replicated. */
  def contamination(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, minOverlap: Int = 1): DataFrame = {
    val shingles = graft.functions.WordShingles(col(textCol), shingleN)
    contaminationFrom(docs,
      bench.select(explode(array_distinct(shingles)).as("s")).distinct(),
      idCol, textCol, shingleN, minOverlap)
  }

  /** [[contamination]] against a PREBUILT benchmark shingle relation
    * (one `s` string column) — the probe form a persisted
    * [[BenchmarkStore]] plugs into: the benchmark side arrives as a
    * bare store scan with zero shingle/explode work, and duplicate
    * rows on the bench side are harmless (membership is a LEFT SEMI).
    * The inline [[contamination]] builds the relation from benchmark
    * docs and delegates here — one probe shape, no drift. */
  def contaminationFrom(docs: DataFrame, benchShingles: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      minOverlap: Int = 1): DataFrame = {
    val shingles = graft.functions.WordShingles(col(textCol), shingleN)
    val docSh = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(shingles)).as("s"))
    val overlap = docSh.join(benchShingles.select(col("s")), Seq("s"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("overlap_shingles"))
    docs.select(col(idCol).as("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("overlap_shingles"), lit(0L)).as("overlap_shingles"))
      .withColumn("flagged", col("overlap_shingles") >= minOverlap)
  }

  /** SPAN-granular decontamination — where [[contamination]] flags a
    * whole document by benchmark n-gram overlap, this reports the
    * maximal contaminated token RANGES so the pipeline can strip the
    * overlapping span and KEEP the document (the production policy: a
    * 2000-token page quoting one benchmark question loses 10 tokens,
    * not the page). Output: one row per maximal contaminated span,
    * (doc_id, span_start token offset, span_tokens length) — the same
    * contract as [[Dedup.duplicateSpans]], so [[Dedup.stripSpans]]
    * composes directly on top.
    *
    * Scale shape: the doc side explodes POSITIONAL shingles (one scan,
    * no distinct — positions matter here) and LEFT SEMI joins them
    * against the benchmark shingle set (tiny vs the corpus — broadcast
    * when it fits); hit positions then merge gaps-and-islands per
    * document ([[Dedup.mergeIslandSpans]] — per-doc window state,
    * bounded by document length, never corpus-wide). A mass-quoted
    * benchmark line costs linear rows on one shingle key, membership
    * not pairing. */
  def contaminationSpansFrom(docs: DataFrame, benchShingles: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      fan: Boolean = true): DataFrame = {
    // r18 (guide §2): positional shingling runs scan-side — fan the
    // narrow (id, text) projection out first (hash(id) also satisfies
    // mergeIslandSpans' per-doc window, so the exchange is reused);
    // fan = false for probe-sized batches, skipped at corpus scale
    val base = if (fan)
      ScalePolicy.fanOut(
        docs.select(col(idCol), col(textCol)), col(idCol))
    else docs
    val docSh = base
      .select(col(idCol),
        posexplode(graft.functions.WordShingles(col(textCol), shingleN)))
      .select(col(idCol), col("pos"), col("col").as("s"))
    val hits = docSh
      .join(benchShingles.select(col("s")), Seq("s"), "left_semi")
      .select(col(idCol), col("pos"))
    graft.operators.Dedup.mergeIslandSpans(hits, idCol, shingleN)
  }

  /** [[contaminationSpansFrom]] with the benchmark shingle relation
    * built inline from eval docs — the pairing twin of
    * [[contamination]]'s inline form; the store-backed form plugs a
    * persisted [[BenchmarkStore]] scan into the `From` seam. */
  def contaminationSpans(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3): DataFrame = {
    val shingles = graft.functions.WordShingles(col(textCol), shingleN)
    contaminationSpansFrom(docs,
      bench.select(explode(array_distinct(shingles)).as("s")).distinct(),
      idCol, textCol, shingleN)
  }

  /** Per-source document cap — the C4/RefinedWeb-style per-domain
    * limit: keep at most `k` docs per source, chosen by a deterministic
    * md5-derived priority (uniform, partition-independent — no bias
    * toward low ids, reproducible across engines/runs) with id
    * tie-break. Scale shape: `row_number() <= k` plans as Spark's
    * WindowGroupLimit — each MAP task pre-trims its partition to k rows
    * per source before the shuffle, so a mega-domain ships ≤ k ×
    * n_partitions rows instead of funneling everything into one window
    * task (PlanSpec pins the WindowGroupLimit node). */
  def perSourceCap(docs: DataFrame, sourceCol: String, idCol: String,
      k: Int): DataFrame = {
    val prio = graft.operators.Dedup.md5h60(
      concat(col(sourceCol), lit("#"), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(prio.asc, col(idCol).asc)
    docs.select(col(idCol), col(sourceCol))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  // Repetition-filter thresholds (the published Gopher-rule ballpark),
  // shared with the generated oracle SQL via TextOps.
  val RepTopUnigramMax = 0.2
  val RepTopBigramMax = 0.18

  /** Repetition ratios per doc — the classic degenerate-text filter
    * (a doc dominated by one token or one bigram is boilerplate or
    * generation junk): top_unigram_ratio = max term count / n_tokens,
    * top_bigram_ratio likewise over 2-gram shingles, and a `flagged`
    * verdict against the shared thresholds. Scale shape: two
    * explode → partial-agg max-count pipelines joined back on doc id —
    * all counts exact integers, ratios single divisions. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one-pass native per-doc counts (r14): the exploded (doc, token)
    // / (doc, bigram) groupBys shuffled corpus-sized unit rows for a
    // doc-LOCAL statistic — graft_rep_counts folds each document in
    // the scan ([[graft.functions.GopherStats]]); the ratio arithmetic
    // below is the identical expression tree, so the unchanged oracle
    // still value-gates it
    docs.select(col(idCol).as("doc_id"),
        graft.functions.RepCounts(col(textCol)).as("st"))
      .select(col("doc_id"),
        round(col("st")(0).cast("double") / col("st")(2), 4)
          .as("top_unigram_ratio"),
        round(col("st")(1).cast("double") /
          greatest(lit(1L), col("st")(2) - 1), 4).as("top_bigram_ratio"))
      .withColumn("flagged",
        col("top_unigram_ratio") > RepTopUnigramMax ||
          col("top_bigram_ratio") > RepTopBigramMax)
  }

  /** Global vocabulary heavy-hitters: the top-N most frequent terms
    * with occurrence and document frequencies — the input to
    * tokenizer/BPE training and stopword mining. Scale shape: explode →
    * partial-aggregated groupBy(term) → TakeOrderedAndProject (per-
    * partition top-N heaps, no global sort); the shuffle carries one
    * row per distinct term per partition, never raw tokens. Fully
    * deterministic: ties broken by term. */
  def vocabTopTerms(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 100): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    tok.groupBy(col("term"))
      .agg(count(lit(1)).as("occurrences"),
        count_distinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("occurrences").desc, col("term").asc)
      .limit(n)
  }

  /** Perplexity-style fluency score WITHOUT an external LM: per-doc
    * average token log-probability under the corpus's OWN unigram
    * distribution (Laplace-smoothed) — the cheap self-perplexity signal
    * the published curation pipelines threshold on (a doc of rare junk
    * tokens scores far below fluent prose; pair with repetitionStats,
    * which catches the opposite degenerate of over-COMMON tokens).
    *
    * Scale shape: tfidfTopTerms' exact plan discipline. (doc, term)
    * counts partially aggregate before any shuffle; term totals join
    * back with a SHUFFLE merge join — never a vocabulary broadcast (an
    * open 100 TB vocabulary is tens of GB) and never a term-partitioned
    * window (a stopword would funnel ~N_docs rows into one task); the
    * only broadcast is the 1-row (N, V) total.
    *
    * Cross-engine determinism: each term's log-probability is rounded
    * to 6 decimals and summed as DECIMAL (exact, order-independent —
    * a double sum would expose aggregation order in the last ulp);
    * the final average divides once and rounds to 4. */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val tc = tf.groupBy(col("term")).agg(sum(col("tf")).as("tc"))
    val tot = tc.agg(sum(col("tc")).as("n"), count(lit(1)).as("v"))
    val scored = tf
      .join(tc.hint("merge"), "term")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("tf"),
        round(log((col("tc") + 1).cast("double") /
          (col("n") + col("v")).cast("double")), 6)
          .cast("decimal(18,6)").as("llp"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        round(sum(col("tf") * col("llp")).cast("double") /
          sum(col("tf")).cast("double"), 4).as("avg_logprob"))
  }

  /** [[unigramLogProb]] under a REFERENCE distribution — the CCNet
    * pattern: the corpus is scored against a language model trained on
    * a trusted high-quality subset (there: wikipedia; here: any
    * (textCol) relation), not against itself — so a corpus saturated
    * with one flavor of junk cannot make that junk look fluent, which
    * is exactly the self-scoring failure mode [[unigramLogProb]]
    * inherits by design. Laplace smoothing over the REFERENCE
    * vocabulary: an out-of-reference term costs
    * ln(1 / (N_ref + V_ref)) — the OOV floor.
    *
    * Scale shape and determinism are [[unigramLogProb]]'s verbatim
    * (per-(doc,term) partial agg, merge-joined reference counts with
    * LEFT join + coalesce for OOV, the single 1-row (N,V) broadcast,
    * 6-decimal rounded log carried as DECIMAL so aggregation order
    * cannot move the sum); the reference side reduces to its count
    * table once per run — at serving scale that table is the persisted
    * artifact (the BandStore pattern), refreshed when the reference
    * corpus changes, not per batch. */
  def unigramLogProbFrom(reference: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val tc = reference.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tc"))
    val tot = tc.agg(sum(col("tc")).as("n"), count(lit(1)).as("v"))
    val scored = tf
      .join(tc.hint("merge"), Seq("term"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("tf"),
        round(log((coalesce(col("tc"), lit(0L)) + 1).cast("double") /
          (col("n") + col("v")).cast("double")), 6)
          .cast("decimal(18,6)").as("llp"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        round(sum(col("tf") * col("llp")).cast("double") /
          sum(col("tf")).cast("double"), 4).as("avg_logprob"))
  }

  /** Per-doc mean bigram conditional log-probability — the
    * perplexity-style fluency signal one rung above [[unigramLogProb]]
    * (shuffled or concatenated word salad scores near the unigram
    * floor; coherent text scores higher because its transitions are
    * corpus-typical): mean over positions of ln P(w_i | w_{i-1}) with
    * add-one smoothing, P = (C(prev,cur)+1) / (C_uni(prev) + V).
    *
    * Cross-engine exactness: the per-bigram log is rounded to 6
    * decimals and carried as DECIMAL(18,6), so the weighted per-doc
    * sum is exact-integer arithmetic no matter the aggregation order —
    * the same idiom as [[unigramLogProb]]. Scale shape mirrors
    * [[tfidfTopTerms]]'s discipline: per-(doc,bigram) partial-agg
    * collapses repeats before any shuffle, corpus counts join back
    * with SHUFFLE merge joins (an open bigram vocabulary is far too
    * large to broadcast), and the only broadcast is the 1-row vocab
    * size. Docs with fewer than 2 tokens have no transitions and no
    * row. */
  /** The per-(doc, bigram) count table both fluency scorings build on —
    * exposed so an eval comparing the two ([[rankAgreement]]'s caller)
    * can pay the bigram explode ONCE and checkpoint it. */
  private[graft] def bigramBf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // r18, the withShOf discipline (guide §2): the bigram explode is
    // this family's heavy per-row work and runs at the SCAN's
    // parallelism — 1-2 partitions on a small input — and the
    // aggregated table's shuffles are small enough in BYTES that AQE
    // folds them to one partition, single-tasking every downstream
    // sort/merge-join (JobProfile: all of bigram_rank_agreement's
    // slowest stages ran tasks=1). Fan out the narrow (id, text)
    // projection before the explode (scale-guarded, as everywhere),
    // and pin the AGGREGATED table's layout to hash(big)
    // so the corpus-count groupBy and every big-keyed merge join
    // downstream REUSE the exchange instead of AQE re-folding it.
    // At corpus scale both extra exchanges are skipped (input already
    // ≥ cluster parallelism; the byte-sized shuffles are real there
    // and AQE sizes them correctly).
    val projected = bigramProjected(docs, idCol, textCol)
    val par = projected.sparkSession.sparkContext.defaultParallelism
    val fan = ScalePolicy.narrow(projected)
    val base =
      if (fan) projected.repartition(par, col("doc_id")) else projected
    val agg = base.select(col("doc_id"),
        explode(graft.functions.WordShingles(col("__bg_text"), 2)).as("big"))
      .groupBy(col("doc_id"), col("big"))
      .agg(count(lit(1)).as("bf"))
    if (fan) agg.repartition(par, col("big")) else agg
  }

  /** The one (id, text) projection every bigram entry derives from —
    * shared so [[bigramBf]]'s fan-out decision and the callers'
    * small-input join-strategy decision hit the SAME memoized
    * [[ScalePolicy]] key (plan-canonical equality). */
  private[graft] def bigramProjected(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__bg_text"))

  /** Small-input gate for the bigram family's DIMENSION joins (word /
    * context / continuation tables): on a narrow input the `merge`
    * hints come OFF so AQE's runtime re-optimization converts the
    * sort-merge joins to broadcasts from REAL materialized sizes —
    * the hints forced SMJ whose per-join sorts ran single-task after
    * AQE folded the byte-small exchanges (r18, guide §3.1). At corpus
    * scale the hints stay: an open bigram/word vocabulary must never
    * be broadcast, and static size estimates cannot be trusted to
    * decide that. */
  private[graft] def bigramSmallDims(docs: DataFrame, idCol: String,
      textCol: String): Boolean =
    ScalePolicy.narrow(bigramProjected(docs, idCol, textCol))

  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramLogProbWithBf(bigramBf(docs, idCol, textCol),
      docs.select(explode(tokens(col(textCol))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("uc")),
      smallDims = bigramSmallDims(docs, idCol, textCol))

  /** [[bigramLogProb]]'s body over precomputed (doc_id, big, bf) and
    * (term, uc) tables. `smallDims` — see [[bigramSmallDims]]. */
  private[graft] def bigramLogProbWithBf(bf: DataFrame,
      uc: DataFrame, smallDims: Boolean = false): DataFrame = {
    def dim(d: DataFrame): DataFrame = if (smallDims) d else d.hint("merge")
    val bc = bf.groupBy(col("big")).agg(sum(col("bf")).as("bc"))
    val v = uc.agg(count(lit(1)).as("v"))
    val scored = bf
      .join(bc.hint("merge"), "big")
      .withColumn("prev", substring_index(col("big"), " ", 1))
      .join(dim(uc), col("prev") === col("term"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("bf"),
        round(log((col("bc") + 1).cast("double") /
          (col("uc") + col("v")).cast("double")), 6)
          .cast("decimal(18,6)").as("llp"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("bf")).as("n_bigrams"),
        round(sum(col("bf") * col("llp")).cast("double") /
          sum(col("bf")).cast("double"), 4).as("avg_logprob"))
  }

  /** Absolute discount for [[bigramLogProbKn]] as an exact rational:
    * D = KnDiscountNum / KnDiscountDen = 3/4 = 0.75, the textbook
    * Kneser-Ney default (Chen & Goodman 1999). Carried as integers so
    * the smoothed probability stays a ratio of exact BIGINTs. */
  val KnDiscountNum = 3L
  val KnDiscountDen = 4L

  /** [[bigramLogProb]]'s interpolated Kneser-Ney twin — the smoothing
    * production fluency LMs actually use. Add-one over-penalizes rare
    * contexts (every unseen continuation of a frequent word costs the
    * same +V denominator); KN discounts each seen bigram by a fixed
    * D = 3/4 and redistributes the freed mass over the CONTINUATION
    * distribution — how many distinct contexts a word follows, not how
    * often it occurs ("Francisco" is frequent but follows only "San",
    * so its unigram backoff weight is tiny):
    *
    *   P(w|prev) = (max(C(prev,w) − D, 0) + D · N1+(prev,·) · Pcont(w))
    *               / C(prev)
    *   Pcont(w)  = N1+(·,w) / B,   B = distinct bigram types
    *
    * with C(prev) = Σ_w C(prev,w) (prev's mass as a context — the
    * self-consistent denominator over the same bigram table). Scoring
    * the corpus against itself means every scored bigram has C ≥ 1, so
    * the log argument is always positive. Keep [[bigramLogProb]] as
    * the faithful add-one form; floors/evals choose per deployment.
    *
    * Cross-engine exactness: the probability is ONE ratio of exact
    * integers — numerator·4B = max(4·C−3, 0)·B + 3·N1+(prev,·)·N1+(·,w),
    * denominator = 4·B·C(prev) — so the double `ln` sees bit-identical
    * arguments on any engine; its 6-decimal rounding then rides the
    * DECIMAL sum idiom. The integer form holds while 4·C·B < 2^63
    * (ample through ~10^9 bigram types; past that the deployment knob
    * is the double form, losing only last-ulp determinism).
    *
    * Scale shape is [[bigramLogProb]]'s verbatim: per-(doc,bigram)
    * partial agg, corpus tables re-derived from the SAME bc relation
    * (one bigram-vocab shuffle feeds count, context and continuation
    * tables), merge joins on the open bigram/word vocabularies, and the
    * only broadcast is the 1-row type count. */
  def bigramLogProbKn(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramLogProbKnWithBf(bigramBf(docs, idCol, textCol),
      smallDims = bigramSmallDims(docs, idCol, textCol))

  /** [[bigramLogProbKn]]'s body over a precomputed (doc_id, big, bf)
    * table. `smallDims` — see [[bigramSmallDims]]. */
  private[graft] def bigramLogProbKnWithBf(bf: DataFrame,
      smallDims: Boolean = false): DataFrame = {
    def dim(d: DataFrame): DataFrame = if (smallDims) d else d.hint("merge")
    val bc = bf.groupBy(col("big")).agg(sum(col("bf")).as("bc"))
      .withColumn("prev", substring_index(col("big"), " ", 1))
      .withColumn("cur", substring_index(col("big"), " ", -1))
    val ctx = bc.groupBy(col("prev"))
      .agg(sum(col("bc")).as("cprev"), count(lit(1)).as("n1p"))
    val cont = bc.groupBy(col("cur")).agg(count(lit(1)).as("contc"))
    val bt = bc.agg(count(lit(1)).as("btypes"))
    val scored = bf
      .join(bc.hint("merge"), "big")
      .join(dim(ctx), "prev")
      .join(dim(cont), "cur")
      .crossJoin(broadcast(bt))
      .select(col("doc_id"), col("bf"),
        round(log(
          (greatest(lit(KnDiscountDen) * col("bc") - lit(KnDiscountNum),
              lit(0L)) * col("btypes") +
            lit(KnDiscountNum) * col("n1p") * col("contc")).cast("double") /
          (lit(KnDiscountDen) * col("btypes") * col("cprev")).cast("double")),
          6).cast("decimal(18,6)").as("llp"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("bf")).as("n_bigrams"),
        round(sum(col("bf") * col("llp")).cast("double") /
          sum(col("bf")).cast("double"), 4).as("avg_logprob"))
  }

  /** BOTH fluency scorings — [[bigramLogProbWithBf]]'s add-one `sa`
    * and [[bigramLogProbKnWithBf]]'s Kneser-Ney `sb` — from ONE join
    * chain and ONE per-doc aggregation (r18, guide §2.4): the
    * rank-agreement eval consumes the two scores side by side, and
    * running the scorings separately paid the bf ⋈ bc assembly twice
    * (bc itself recomputed), two independent prev-keyed shuffles, and
    * a final doc-keyed join to zip the scores back together.
    *
    * Output == `a.join(b, "doc_id")` of the separate forms, EXACTLY:
    * the extra ctx/cont joins drop no rows (every bigram's prev/cur is
    * a group key of the tables derived from the same bc), every prev
    * is a corpus token so the uc join keeps all rows, each llp
    * expression is the separate form's verbatim, and the per-doc sums
    * ride the same DECIMAL(18,6) exact-integer idiom, so aggregation
    * order cannot move them (BigramBothScoresSpec pins the
    * equivalence). The bc table is lazily checkpointed — FOUR
    * consumers (scored join, ctx, cont, bt) would otherwise each
    * re-run the bigram-vocabulary aggregation; it is bounded by the
    * bigram TYPE count, strictly smaller than the per-doc bf table the
    * caller already materializes (this eval is documented as a
    * diagnostic over a bounded slice, not a data path — see
    * [[rankAgreement]]). */
  private[graft] def bigramBothScoresWithBf(bf: DataFrame,
      uc: DataFrame, smallDims: Boolean = false): DataFrame = {
    def dim(d: DataFrame): DataFrame = if (smallDims) d else d.hint("merge")
    val bc = bf.groupBy(col("big")).agg(sum(col("bf")).as("bc"))
      .withColumn("prev", substring_index(col("big"), " ", 1))
      .withColumn("cur", substring_index(col("big"), " ", -1))
      .seamCheckpoint(false)
    val ctx = bc.groupBy(col("prev"))
      .agg(sum(col("bc")).as("cprev"), count(lit(1)).as("n1p"))
    val cont = bc.groupBy(col("cur")).agg(count(lit(1)).as("contc"))
    val bt = bc.agg(count(lit(1)).as("btypes"))
    val v = uc.agg(count(lit(1)).as("v"))
    val scored = bf
      .join(bc.hint("merge"), "big")
      .join(dim(uc), col("prev") === col("term"))
      .join(dim(ctx), "prev")
      .join(dim(cont), "cur")
      .crossJoin(broadcast(v))
      .crossJoin(broadcast(bt))
      .select(col("doc_id"), col("bf"),
        round(log((col("bc") + 1).cast("double") /
          (col("uc") + col("v")).cast("double")), 6)
          .cast("decimal(18,6)").as("llpa"),
        round(log(
          (greatest(lit(KnDiscountDen) * col("bc") - lit(KnDiscountNum),
              lit(0L)) * col("btypes") +
            lit(KnDiscountNum) * col("n1p") * col("contc")).cast("double") /
          (lit(KnDiscountDen) * col("btypes") * col("cprev")).cast("double")),
          6).cast("decimal(18,6)").as("llpb"))
    scored.groupBy(col("doc_id"))
      .agg(round(sum(col("bf") * col("llpa")).cast("double") /
          sum(col("bf")).cast("double"), 4).as("sa"),
        round(sum(col("bf") * col("llpb")).cast("double") /
          sum(col("bf")).cast("double"), 4).as("sb"))
  }

  /** Rank agreement between two per-doc scorings — the eval row behind
    * the add-one vs Kneser-Ney choice: Spearman's ρ over the two
    * orderings, computed WITHOUT a corpus-wide rank window. Both score
    * columns are 4-decimal-rounded, so the distinct-value histogram is
    * bounded by the score RANGE (≤ a few 100k rows however large the
    * corpus — the quality-floor histogram argument); ranks come from
    * that histogram: rank2(s) = 2·|{s' < s}| + count(s) + 1, the
    * tie-averaged midrank doubled to stay integer (ρ is invariant
    * under the affine ×2+shift). Docs join their midranks back through
    * a broadcast of the histogram; ρ is then Pearson over the exact
    * integer rank pairs from ONE partial aggregation — sums of rank
    * products stay < 2^63 for n ≲ 1.3M docs, the documented bound (a
    * larger corpus evals on a fixed-size slice; this is a diagnostic,
    * not a data path).
    *
    * Input: (doc_id, sa, sb) — the two scores per doc. Output: one row
    * (n_docs, spearman_rho). */
  def rankAgreement(scores: DataFrame): DataFrame = {
    def rank2Of(c: String): DataFrame = {
      val h = scores.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(c)).rowsBetween(Long.MinValue, -1)
      h.select(col(c),
        (lit(2L) * coalesce(sum(col("cnt")).over(w), lit(0L)) +
          col("cnt") + lit(1L)).as(s"r_$c"))
    }
    val ranked = scores
      .join(broadcast(rank2Of("sa")), "sa")
      .join(broadcast(rank2Of("sb")), "sb")
    ranked.agg(
        count(lit(1)).as("n"), sum(col("r_sa")).as("sx"),
        sum(col("r_sb")).as("sy"),
        sum(col("r_sa") * col("r_sa")).as("sxx"),
        sum(col("r_sb") * col("r_sb")).as("syy"),
        sum(col("r_sa") * col("r_sb")).as("sxy"))
      .select(col("n").as("n_docs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
          6).as("spearman_rho"))
  }

  /** Per-source token-distribution divergence from the corpus — the
    * datacard diagnostic behind mixture design: KL(P_s ‖ P_corpus) over
    * the word distribution, in nats. A source whose KL is near zero is
    * corpus-typical (re-weighting it mostly re-weights everything); a
    * high-KL source carries distinct mass the mixture can actually
    * trade (the DSIR/importance-sampling literature's selection
    * signal, aggregated to source granularity).
    *
    * Cross-engine exactness: each word's log-likelihood-ratio
    * ln((c_sw·N) / (c_w·N_s)) sees ONE exact-integer ratio, is rounded
    * to 6 decimals and carried as DECIMAL; the per-source sum weights
    * it by the integer c_sw, so aggregation order cannot move it; the
    * single division by N_s happens once at the end (round 4). Every
    * scored word has c_sw ≥ 1 (a source is only scored on its own
    * support), so KL is finite and — by Gibbs' inequality — ≥ 0, which
    * the spec pins. Integer form holds while c_sw·N < 2^63.
    *
    * Scale shape: ONE (source, word) partial-agg shuffle feeds both
    * the per-source table and (re-aggregated) the corpus table — the
    * corpus counts join back by shuffle merge on the open vocabulary;
    * the per-source totals (|sources| rows) and the 1-row corpus total
    * broadcast. No windows, no driver-side data. */
  def sourceKlDivergence(docs: DataFrame, textCol: String,
      srcCol: String): DataFrame = {
    val sw = docs.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("csw"))
    val cw = sw.groupBy(col("word")).agg(sum(col("csw")).as("cw"))
    val ns = sw.groupBy(col("source")).agg(sum(col("csw")).as("ns"))
    val n = cw.agg(sum(col("cw")).as("n"))
    sw.join(cw.hint("merge"), "word")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(n))
      .select(col("source"), col("csw"), col("ns"),
        round(log((col("csw") * col("n")).cast("double") /
          (col("cw") * col("ns")).cast("double")), 6)
          .cast("decimal(18,6)").as("llr"))
      .groupBy(col("source"))
      .agg(first(col("ns")).as("n_tokens"),
        round(sum(col("csw") * col("llr")).cast("double") /
          first(col("ns")).cast("double"), 4).as("kl_vs_corpus"))
  }

  /** (word, n) token histogram of a corpus — the shared head of the
    * drift family (and exactly the fold a [[LexStore]]'s persisted
    * postings replay: sum(tf) group by term). */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Ingest-time distribution-drift monitor: per-group Jensen-Shannon
    * divergence (nats) between an arriving batch's token distribution
    * P and the accumulated corpus's Q — the data-quality tripwire a
    * production pipeline alarms on (a scraper gone wrong, a source
    * switching language, template spam flooding one shard). JS rather
    * than KL because drift must be FINITE when the batch carries novel
    * vocabulary (KL(P‖Q) is +∞ on any word with q=0; JS is bounded by
    * ln 2) and symmetric enough to compare across batches.
    *
    * Inputs are (grp, word, n) histograms. Per word, with per-group
    * totals NB/NS: P/M = 2·b·NS / (b·NS + s·NB) and Q/M symmetric —
    * ONE ratio per side, rounded to 6 decimals as DECIMAL (the
    * [[sourceKlDivergence]] llr discipline), weighted by the INTEGER
    * count, divided once by the total at the end (round 4). The log
    * arguments multiply as doubles (NOT integer-first like the KL
    * twin: b·NS overflows int64 at 100 TB token counts; both engines
    * evaluate the identical double expression). Zero-count sides are
    * skipped exactly (0·log-term contributes 0 to its sum). Groups
    * present on only one side are dropped — drift against an empty
    * distribution is undefined; the caller's seen side defines the
    * monitored universe.
    *
    * Scale shape: one full-outer shuffle merge on (grp, word) — both
    * sides pre-aggregated map-side; per-group totals broadcast; one
    * partial-agg rollup. No windows, no driver-side data. The merged
    * histogram is consumed TWICE (totals, then terms) — it checkpoints
    * lazily so the corpus-side work (at scale, a posting fold over the
    * whole store) runs once, not per consumer; the materialized rows
    * are vocabulary-sized, the cheap thing to hold. */
  /** The per-word term table behind the drift family — (grp, word, b,
    * s, nb, ns, lp, lq) with the round-6 decimal log-ratio sides; the
    * rollup sums it into JS, the datacard ranks it. */
  private def jsDriftTermTable(batchCounts: DataFrame,
      seenCounts: DataFrame): DataFrame = {
    val j = batchCounts.select(col("grp"), col("word"), col("n").as("b"))
      .join(seenCounts.select(col("grp"), col("word"), col("n").as("s")),
        Seq("grp", "word"), "full_outer")
      .na.fill(0L, Seq("b", "s"))
      .seamCheckpoint(false)
    val tot = j.groupBy(col("grp"))
      .agg(sum(col("b")).as("nb"), sum(col("s")).as("ns"))
      .filter(col("nb") > 0 && col("ns") > 0)
    val den = col("b").cast("double") * col("ns").cast("double") +
      col("s").cast("double") * col("nb").cast("double")
    j.join(broadcast(tot), Seq("grp"))
      .select(col("grp"), col("word"), col("b"), col("s"),
        col("nb"), col("ns"),
        when(col("b") > 0, round(log(
            col("b").cast("double") * col("ns").cast("double") * 2d / den),
          6).cast("decimal(18,6)")).as("lp"),
        when(col("s") > 0, round(log(
            col("s").cast("double") * col("nb").cast("double") * 2d / den),
          6).cast("decimal(18,6)")).as("lq"))
  }

  def jsDriftGrouped(batchCounts: DataFrame,
      seenCounts: DataFrame): DataFrame =
    jsDriftTermTable(batchCounts, seenCounts)
      .groupBy(col("grp"))
      .agg(first(col("nb")).as("n_batch_tokens"),
        first(col("ns")).as("n_seen_tokens"),
        round((sum(col("b") * col("lp")).cast("double") /
            first(col("nb")).cast("double") +
          sum(col("s") * col("lq")).cast("double") /
            first(col("ns")).cast("double")) / 2d, 4).as("js_nats"))

  /** Words driving the drift — the top-[[DriftTopTermsK]] JS
    * contributions (b·lp/NB + s·lq/NS, nats): the alarm's WHY
    * attached to its WHAT ("js_nats spiked" → "these template tokens
    * flooded in"). Deterministic cross-engine: contributions derive
    * from round-6 decimal sides and integer counts through identical
    * IEEE double steps on both engines; the global top-k plans as
    * per-partition heaps (TakeOrderedAndProject), ties broken
    * (contribution DESC, word ASC). */
  val DriftTopTermsK = 25

  def jsDriftTopTerms(batch: DataFrame, textCol: String,
      seenCounts: DataFrame, k: Int = DriftTopTermsK): DataFrame = {
    val contrib =
      coalesce((col("b") * col("lp")).cast("double") /
        col("nb").cast("double"), lit(0d)) +
      coalesce((col("s") * col("lq")).cast("double") /
        col("ns").cast("double"), lit(0d))
    jsDriftTermTable(
        wordCounts(batch, textCol).withColumn("grp", lit(0)),
        seenCounts.withColumn("grp", lit(0)))
      .select(col("word"), col("b").as("n_batch"), col("s").as("n_seen"),
        contrib.as("c0"), round(contrib, 6).as("contrib_nats"))
      .orderBy(col("c0").desc, col("word").asc)
      .limit(k)
      .drop("c0")
  }

  /** Per-source drift of a batch against the seen corpus — the
    * monitoring datacard: one row per source present on both sides. */
  def jsDriftBySource(batch: DataFrame, seen: DataFrame,
      srcCol: String, textCol: String): DataFrame =
    jsDriftBySourceCounts(batch, srcCol, textCol,
      seen.select(col(srcCol).as("grp"),
          explode(tokens(col(textCol))).as("word"))
        .groupBy(col("grp"), col("word")).agg(count(lit(1)).as("n")))

  /** [[jsDriftBySource]] with the SEEN side supplied as a (grp, word,
    * n) histogram — the grouped store-probing seam: the histogram can
    * come from re-tokenizing the seen corpus (recompute) or from a
    * [[TermHistStore]]'s persisted segments folded by counter
    * addition, bit-identically (the [[jsDriftVsCorpus]] seam with the
    * group key kept). */
  def jsDriftBySourceCounts(batch: DataFrame, srcCol: String,
      textCol: String, seenCounts: DataFrame): DataFrame =
    jsDriftGrouped(
      batch.select(col(srcCol).as("grp"),
          explode(tokens(col(textCol))).as("word"))
        .groupBy(col("grp"), col("word")).agg(count(lit(1)).as("n")),
      seenCounts)
      .withColumnRenamed("grp", "source")

  /** Whole-corpus drift of a batch against a seen-side (word, n)
    * histogram — the store-probing seam: the seen histogram can come
    * from [[wordCounts]] (recompute) or from a [[LexStore]]'s persisted
    * postings folded by counter addition (probe), bit-identically. */
  def jsDriftVsCorpus(batch: DataFrame, textCol: String,
      seenCounts: DataFrame): DataFrame =
    jsDriftGrouped(
      wordCounts(batch, textCol).withColumn("grp", lit(0)),
      seenCounts.withColumn("grp", lit(0)))
      .drop("grp")

  val EntropyMinBits = 3.0

  /** Per-document character-level Shannon entropy (bits/char) — the
    * compressibility-style quality signal: machine-generated padding,
    * repeated-character junk, and base64/hex blobs sit at the extremes
    * of the entropy range while natural prose clusters mid-range
    * (pair with [[gopherRepetition]], which catches TOKEN-level
    * repetition; entropy catches sub-token degeneracy). `flagged`
    * marks docs below `EntropyMinBits`.
    *
    * Scale shape: explode to (doc, char) → ONE partial-agg count per
    * (doc, char) (alphabet-bounded: ≤ |charset| rows per doc survive
    * the map-side combine) → per-doc entropy as a sum of per-char
    * terms. Cross-engine exactness: each −p·log2(p) term is rounded
    * to 6 decimals and summed as DECIMAL (order-independent — the
    * [[unigramLogProb]] idiom), final entropy rounded to 4. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one-pass native per-doc fold (r14): the exploded form shipped one
    // row PER CHARACTER through two exchanges (~half a billion rows at
    // the 100× curve point) for a doc-LOCAL statistic —
    // graft_entropy_stats computes the frequency fold in the scan with
    // each distinct character's term rounded to 6 decimals exactly as
    // the old decimal(18,6) column (Spark Round semantics, exact
    // micro-unit sum; [[graft.functions.GopherStats.entropyStats]]);
    // the unchanged oracle still value-gates it. The n_chars > 0
    // filter mirrors the exploded form's inner join dropping
    // empty-text docs.
    docs.select(col(idCol).as("doc_id"),
        graft.functions.EntropyStats(col(textCol)).as("st"))
      .filter(col("st")(0) > 0L)
      .select(col("doc_id"), col("st")(0).as("n_chars"),
        round(col("st")(1).cast("double") / lit(1e6), 4).as("entropy_bits"))
      .withColumn("flagged", col("entropy_bits") < EntropyMinBits)
  }

  val GopherTopNgramCharMax = 0.20
  val GopherDupNgramCharMax = 0.14

  /** Gopher-rule repetition fractions by CHARACTER mass (Rae et al.,
    * "Scaling Language Models: ... Gopher", table A1) — the two
    * signals [[repetitionStats]]' token-count ratios don't cover:
    * top_ngram_char_frac = max over in-doc n-grams (n = topN) of
    * occurrences · gram chars, over total text chars (the "fraction of
    * characters in the most common n-gram" rule; taking the max of
    * count·len is deterministic without an argmax tie-break, and equals
    * the rule whenever one gram dominates); dup_ngram_char_frac = chars
    * of tokens covered by ANY duplicated n-gram (n = dupN, count ≥ 2
    * within the doc, coverage = union of the gram's token spans) over
    * total token chars. `flagged` applies the paper's 0.20 / 0.14
    * thresholds for n = 2 / 6.
    *
    * Scale shape: everything is doc-local — explode → partial-agg on
    * (doc, gram) keys, a LEFT SEMI membership join per doc (no
    * corpus-global gram key exists, so no hot-key funnel; contrast
    * [[graft.operators.Dedup.duplicateSpans]], which is deliberately
    * corpus-global), covered positions dedup with a partial-agg
    * distinct, and every fraction is one division rounded to 4.
    * No windows, no broadcasts beyond Spark's own small-side picks. */
  def gopherRepetition(docs: DataFrame, idCol: String, textCol: String,
      topN: Int = 2, dupN: Int = 6): DataFrame = {
    // one-pass native per-doc fold (r14): the exploded gram/position
    // row sets (four shuffles' worth) computed doc-LOCAL masses —
    // graft_rep_mass folds top-gram mass, duplicated-gram coverage
    // mass and token chars in the scan
    // ([[graft.functions.GopherStats.repMass]]); the fraction
    // arithmetic below is the identical expression tree, so the
    // unchanged oracle still value-gates it
    docs.select(col(idCol).as("doc_id"),
        length(col(textCol)).cast("long").as("text_chars"),
        graft.functions.RepMass(col(textCol), topN, dupN).as("st"))
      .select(col("doc_id"),
        round(col("st")(0).cast("double") /
          col("text_chars"), 4).as("top_ngram_char_frac"),
        round(col("st")(1).cast("double") /
          greatest(lit(1L), col("st")(2)), 4).as("dup_ngram_char_frac"))
      .withColumn("flagged",
        col("top_ngram_char_frac") > GopherTopNgramCharMax ||
          col("dup_ngram_char_frac") > GopherDupNgramCharMax)
  }

  val DsirBuckets = 8192
  val DsirTopN = 100

  /** DSIR-style data selection: rank raw-corpus documents by hashed
    * n-gram importance weight against a TARGET domain (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023). Features are unigrams + word bigrams hashed into a
    * FIXED number of buckets; a bag-of-hashed-ngrams model is fit on
    * the target subset (p) and the raw corpus (q), and each document
    * scores log w = Σ_b tf_b · (ln p_b − ln q_b) (Laplace-smoothed).
    * The paper resamples with Gumbel noise; this operator takes the
    * deterministic top-N by weight (ties by doc id) so the selection
    * is reproducible and oracle-checkable — swap the final sort for a
    * seeded Gumbel perturbation to get the paper's sampler.
    *
    * Scale shape — the whole point of HASHED features: the model is
    * AT MOST `buckets` rows regardless of corpus size (vs. the open
    * vocabulary [[unigramLogProb]] must merge-join), so the per-bucket
    * log-ratio table broadcasts. Gram rows partially aggregate to
    * (doc, bucket) before any shuffle, bucketing is scan-side md5 (no
    * vocabulary lookup), scoring is one broadcast join + one per-doc
    * partial agg, and selection is orderBy+limit — per-partition top-N
    * heaps (TakeOrderedAndProject), never a global sort or window.
    * Cross-engine exactness: each ln is rounded to 6 decimals and the
    * ratio carried as DECIMAL, so per-doc sums are order-independent;
    * the final weight divides nothing and rounds to 4.
    *
    * Ref semantics (operator coverage): reference has no selection op;
    * this extends the curation surface per the north-star brief. */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = DsirBuckets,
      topN: Int = DsirTopN): DataFrame = {
    // tf feeds TWO consumers (the model fold and the scoring join);
    // without the checkpoint each re-runs the gram explode + digest
    // aggregation from the raw corpus (r17 — measured as two identical
    // scan stages in one query). The materialized rows are the narrow
    // (doc, tgt, bucket, tf) table, bounded by docs × buckets.
    val tf = dsirTf(docs, idCol, textCol, isTarget, buckets)
      .seamCheckpoint(false)
    dsirRank(tf.drop("tgt"), dsirModelOf(tf), buckets, topN)
  }

  /** Per-(doc, bucket) hashed-gram term frequencies with the target
    * flag — [[dsirSelect]]'s head, shared with [[DsirStore]]'s ingest
    * (which persists only the bucket-level sums). */
  private[graft] def dsirTf(docs: DataFrame, idCol: String,
      textCol: String, isTarget: Column, buckets: Int): DataFrame = {
    val base = ScalePolicy.fanOut(
      docs.select(col(idCol).as("doc_id"), isTarget.as("tgt"),
        col(textCol).as("text")),
      col("doc_id"))
    base.select(col("doc_id"), col("tgt"),
        explode(concat(tokens(col("text")),
          graft.functions.WordShingles(col("text"), 2))).as("gram"))
      .select(col("doc_id"), col("tgt"),
        pmod(conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong)).as("bucket"))
      .groupBy(col("doc_id"), col("tgt"), col("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Bucket-level (ct, cr) model counts from a tf relation — ADDITIVE:
    * the model of a corpus equals the bucket-wise sum of its batches'
    * models, which is what makes the persisted form a trivial
    * append-only store ([[DsirStore]]). */
  private[graft] def dsirModelOf(tf: DataFrame): DataFrame =
    tf.groupBy(col("bucket"))
      .agg(sum(when(col("tgt"), col("tf")).otherwise(lit(0L))).as("ct"),
        sum(col("tf")).as("cr"))

  /** Score (doc, bucket, tf) rows against a (bucket, ct, cr) model and
    * take the deterministic top-N — [[dsirSelect]]'s tail, shared with
    * the store-backed probe so the two forms cannot drift. */
  private[graft] def dsirRank(tf: DataFrame, model: DataFrame,
      buckets: Int, topN: Int): DataFrame = {
    val tot = model.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val llr = model.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (round(log((col("ct") + 1).cast("double") /
            (col("nt") + buckets).cast("double")), 6).cast("decimal(18,6)") -
          round(log((col("cr") + 1).cast("double") /
            (col("nr") + buckets).cast("double")), 6).cast("decimal(18,6)"))
          .as("llr"))
    tf.join(broadcast(llr), "bucket")
      .groupBy(col("doc_id"))
      .agg(round(sum(col("tf") * col("llr")).cast("double"), 4).as("weight"))
      .orderBy(col("weight").desc, col("doc_id").asc)
      .limit(topN)
  }

  /** BM25 parameters (Robertson/Spärck Jones; the k1/b defaults every
    * lexical engine ships) and the result depth — shared with the
    * generated oracle SQL. The derived constants (k1+1, 1−b) are
    * computed ONCE here in Scala and cross the engine boundary as
    * exact-double literals, so neither engine re-derives them. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 10

  /** BM25 keyword search — the LEXICAL retrieval twin of the ANN
    * family (a RAG stack runs both and fuses): per (query, doc),
    * Σ_{t∈Q} idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·|D|/avgdl)), with
    * idf = ln(1 + (N−df+0.5)/(df+0.5)). Each idf is rounded to 6
    * (the llr discipline — a 1-ulp ln() difference between engines
    * can never flip a ranking), the summed score to 4, and ranking
    * breaks ties on doc_id.
    *
    * Scale shape: the posting restriction happens FIRST — tokens
    * semi-join the tiny broadcast query-term set before any
    * aggregation, so tf/df exist only for query terms (df is a
    * partial agg on ≤ |Q| keys, broadcast back). Doc lengths join on
    * doc_id only for docs that matched. avgdl is a 1-row broadcast.
    * The per-query ranking is the bounded-heap aggregate — map-side
    * combine, no window. Nothing vocabulary-sized shuffles.
    * `queryTerms`: (query_id, term), one row per query term. */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: DataFrame, k: Int = Bm25TopK): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val dl = docs.select(col(idCol).as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("dl"))
    val qterms = queryTerms.select(col("term")).distinct()
    val tf = tok.join(broadcast(qterms), Seq("term"), "left_semi")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    bm25FromPostings(tf.join(dl, Seq("doc_id")), dl, queryTerms, k)
  }

  /** The BM25 scoring tail over a POSTING relation
    * (doc_id, term, tf, dl) restricted (or restrictable) to the query
    * terms, with `docLens` = one (doc_id, dl) row per corpus doc (the
    * N/avgdl source — it must cover docs with NO query-term match,
    * which the postings can't). Shared verbatim by the inline
    * [[bm25Search]] and the persisted [[LexStore]] probe, so the two
    * forms cannot drift — same oracle, zero tolerance. */
  private[graft] def bm25FromPostings(postings: DataFrame, docLens: DataFrame,
      queryTerms: DataFrame, k: Int): DataFrame = {
    val k1p1 = Bm25K1 + 1.0
    val oneMinusB = 1.0 - Bm25B
    val st = docLens.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = queryTerms.select(col("term")).distinct()
    val tf = postings.join(broadcast(qterms), Seq("term"), "left_semi")
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = queryTerms.join(tf, Seq("term"))
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(st))
      .select(col("query_id"), col("doc_id"),
        (round(log(lit(1.0) +
            (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6) *
          (col("tf") * lit(k1p1)) /
          (col("tf") + lit(Bm25K1) *
            (lit(oneMinusB) + lit(Bm25B) * col("dl") / col("avgdl"))))
          .as("c"))
    val scored = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("c")), 4).as("score"))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore(col("score"), col("doc_id"), k)
        .as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").as("score"),
        (col("pos") + 1).cast("long").as("rk"))
  }

  /** Top-k TF-IDF terms per document (keyword extraction / doc
    * signatures): tf = in-doc term count, idf = ln((N+1)/(df+1)) + 1,
    * ranked on (round(score, 4) DESC, term ASC) — ranking on the
    * ROUNDED score means a 1-ulp ln() difference between engines can
    * never flip the top-k cutoff. Scale shape: one explode feeding the
    * (doc, term) tf aggregation; df = tf's term group sizes via a
    * partially-aggregated groupBy(term) (one (doc,term) row per in-doc
    * term, so the count == count(DISTINCT doc)), joined back to tf with
    * a SHUFFLE merge join — deliberately neither a broadcast (an open
    * 100 TB vocabulary — typos, codes, numerals — is tens of GB and
    * would OOM every executor) nor a term-partitioned window (a
    * stopword term appears in ~every doc, and WindowExec would funnel
    * those ~N_docs rows into ONE task with no partial aggregation and
    * no AQE split). The map-side combine collapses a stopword's rows
    * before the df shuffle, and AQE's skew-join handling can split the
    * scoring join's term partitions. The only broadcast is the 1-row
    * corpus count. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nTbl = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      // merge hint pins the join to sort-merge even where the sf0.01
      // vocabulary would auto-broadcast — the plan must be the one that
      // survives an open vocabulary, and both sides arrive term-hashed
      .join(df.hint("merge"), "term")
      .crossJoin(broadcast(nTbl))
      .select(col("doc_id"), col("term"),
        round(col("tf") *
          (log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double")) + 1),
          4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }
}
