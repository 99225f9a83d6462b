package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-phrase dictionary tagging at corpus scale — the generalized
  * form of C4's page-level banned-words rule (Raffel et al. 2020 §2.2
  * drops any page containing a word from a published blocklist;
  * [[C4Rules]] documents that delegation) and of taxonomy/topic
  * tagging generally: given a phrase list (1..k lowercase words), tag
  * every document with the phrases it contains and how often.
  *
  * Spark-first matching: this is the declarative equivalent of an
  * Aho-Corasick scan. Per distinct phrase LENGTH k in the dictionary,
  * the document's word k-gram positions are enumerated scan-side
  * (`transform(sequence(...))` over the token array — codegen'd, no
  * UDF) and hash-joined against the BROADCAST dictionary. Work scales
  * with corpus tokens × distinct phrase lengths (small constant);
  * the dictionary — thousands of phrases in production — never
  * shuffles, and the only exchange is the per-(doc, phrase) count's
  * partial agg. A trie would beat this only when the dictionary has
  * MANY distinct lengths; published blocklists are 1-3 words.
  *
  * Exactness: tokenization is the shared [[TextAnalysis.tokens]]
  * (split on single space ⇔ DuckDB string_split), grams are exact
  * string joins, hits are exact counts — the oracle repeats the
  * construction verbatim (the list_slice/range idiom the span-dedup
  * oracles already use). Overlapping occurrences each count (both
  * engines enumerate every position).
  *
  * Case: C4's published rule is CASE-INSENSITIVE ("contains a word
  * from the list" is matched on lowercased pages), so the default
  * `foldCase = true` lowercases BOTH the text and the dictionary
  * inside the engine (`lower()` — the same builtin the gopher/C4
  * rule oracles already cross-check against DuckDB's lower()); the
  * matched `term` reported is the lowercased canonical form.
  * `foldCase = false` keeps the exact-case join for dictionaries
  * whose casing is load-bearing (code identifiers, acronyms). */
object Blocklist {

  /** Built-in demonstration dictionary. The published C4 rule uses the
    * LDNOOBW word list; the engine takes ANY phrase list — this
    * neutral fixture (mixed 1/2/3-word phrases, one deliberately
    * matching nothing) keeps the gate corpus deterministic and the
    * oracle small. */
  val DefaultPhrases: Seq[String] = Seq(
    "big query", "slow scan", "key value", "table table table",
    "graft never emits this phrase")

  private def phraseLen(p: String): Int = p.split(" ").length

  /** Phrase VALUES rows for generated-SQL surfaces — the ONE escaping
    * seam shared by the DuckDB oracle generator and the Spark-SQL
    * twin: refuses quotes/backslashes at generation time (the
    * OPERATOR itself accepts any string; only interpolated-SQL
    * surfaces are restricted), and under `foldCase` wraps each
    * literal in `lower()` so normalization happens in the TARGET
    * engine — never a Scala toLowerCase whose Unicode table could
    * drift from either engine's. */
  def sqlDictRows(phrases: Seq[String] = DefaultPhrases,
      foldCase: Boolean = true): String = {
    require(phrases.forall(p => !p.contains("'") && !p.contains("\\")),
      s"generated-SQL phrases must be quote/backslash-free: " +
        phrases.filter(p => p.contains("'") || p.contains("\\")))
    phrases.map { p =>
      val lit = if (foldCase) s"lower('$p')" else s"'$p'"
      s"($lit, ${phraseLen(p)})"
    }.mkString(", ")
  }

  /** The id column, type-guarded: the tagger keys its per-doc rollup
    * and audit join on a LONG id (the house surrogate-id convention);
    * a silent cast would NULL every non-numeric string id and
    * collapse the corpus into one NULL-keyed group. Same loud guard
    * as the streaming ingest loops. */
  private def checkedLongId(docs: DataFrame, idCol: String)
      : org.apache.spark.sql.Column = {
    require(docs.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"Blocklist requires LONG doc ids, got " +
        s"${docs.schema(idCol).dataType.catalogString} — map ids to a " +
        "surrogate long (e.g. xxhash64) first")
    col(idCol).as("doc_id")
  }

  /** (doc_id, term, hits) — one row per document × matched dictionary
    * phrase, hits = number of matching k-gram positions. Docs with no
    * match emit nothing (see [[tagVerdict]] for the every-doc audit). */
  def phraseHits(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String] = DefaultPhrases,
      foldCase: Boolean = true): DataFrame = {
    require(phrases.nonEmpty, "empty blocklist")
    require(phrases.forall(p => p.trim == p && p.nonEmpty &&
      !p.contains("  ")), s"phrases must be single-space-joined words: " +
      phrases.filterNot(p => p.trim == p && p.nonEmpty && !p.contains("  ")))
    val spark = docs.sparkSession
    import spark.implicits._
    val lens = phrases.map(phraseLen).distinct.sorted
    val dictRaw = phrases.map(p => (p, phraseLen(p))).toDF("term", "k")
    val dict = broadcast(
      if (foldCase) dictRaw.select(lower(col("term")).as("term"), col("k"))
      else dictRaw)
    val textNorm = if (foldCase) lower(col(textCol)) else col(textCol)
    // fan the (id, text) rows out to cluster parallelism before the
    // per-k gram enumeration (scale-guarded — see ScalePolicy): on a
    // narrow input the k-gram transform/slice/join work would
    // otherwise run single-task in the scan stage
    val toks = ScalePolicy.fanOut(
        docs.select(checkedLongId(docs, idCol), textNorm.as("__bl_text")),
        col("doc_id"))
      .select(col("doc_id"), TextAnalysis.tokens(col("__bl_text")).as("t"))
    // ONE corpus scan for every phrase length: the per-k (k, gram)
    // position arrays built side by side in the projection, flattened,
    // and exploded once — a per-k union would re-scan the corpus once
    // per distinct length, which is the dominant cost at scale.
    // sequence() is guarded (it DESCENDS when stop < start), so
    // short/empty/NULL docs contribute no grams.
    val emptyKg = array().cast("array<struct<k:int,gram:string>>")
    val perK = lens.map { k =>
      when(size(col("t")) >= k,
          transform(sequence(lit(1), size(col("t")) - k + 1),
            i => struct(lit(k).as("k"),
              array_join(slice(col("t"), i, lit(k)), " ").as("gram"))))
        .otherwise(emptyKg)
    }
    val grams = toks
      .select(col("doc_id"), explode(flatten(array(perK: _*))).as("kg"))
      .select(col("doc_id"), col("kg.k").as("k"), col("kg.gram").as("gram"))
    grams.join(dict, grams("gram") === dict("term") &&
        grams("k") === dict("k"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("hits"))
  }

  /** Per-document blocklist verdict — the audit projection (every doc
    * emits a row; the caller filters on `keep`): matched phrases as a
    * sorted CSV, total hit count, and C4's page semantics
    * (keep = zero matches). */
  def tagVerdict(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String] = DefaultPhrases,
      foldCase: Boolean = true): DataFrame = {
    val perDoc = phraseHits(docs, idCol, textCol, phrases, foldCase)
      .groupBy(col("doc_id"))
      .agg(array_join(array_sort(collect_list(col("term"))), ",")
          .as("terms_csv"),
        sum(col("hits")).as("n_hits"))
    docs.select(checkedLongId(docs, idCol))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("terms_csv"), lit("")).as("terms_csv"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) === 0L).as("keep"))
  }
}
