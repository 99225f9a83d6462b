package graft.operators

import graft.operators.Materialize.MatOps

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Approximate-nearest-neighbor search over an embedding column
  * (BASELINE.json north star).
  *
  * Two paths:
  * - `bruteForceTopK`: exact baseline — broadcast the (small) query set
  *   against the corpus, rank by cosine. Linear in |corpus|×|queries|;
  *   correct at any scale where the query set is broadcastable.
  * - `lshTopK`: scale path — L independent random-hyperplane hash tables
  *   (sign-of-projection bits → bucket id). Candidates are vectors
  *   sharing a bucket with the query in ANY table; only candidates get
  *   scored. At 100 TB the bucket join replaces the full cross product:
  *   cost ≈ corpus scan (bucketing, linear) + per-bucket candidate join.
  *   Recall/cost tuned via (nTables, nPlanes); hyperplanes are seeded —
  *   deterministic across runs and engines.
  *
  * Ranking determinism: similarity is rounded to 4 decimals BEFORE
  * ranking and ties break on vec_id, so the top-k set is reproducible
  * bit-for-bit across engines regardless of float summation order.
  */
object SimilaritySearch {

  /** Rank corpus vectors per query by rounded cosine; emit top k.
    * `queries`: (query_id, q_emb); `vectors`: (vec_id, embedding). */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // Cast to double ONCE per vector — the per-pair zip_with/aggregate
    // lambdas are interpreted (not codegen'd), so hoisting the casts out
    // of the quadratic stage matters.
    val v = vectors.select(col("vec_id"),
      VectorOps.toDoubleVec(col("embedding")).as("v_emb"),
      VectorOps.norm(col("embedding")).as("v_nrm"))
    val q = queries.select(col("query_id"),
      VectorOps.toDoubleVec(col("q_emb")).as("qd_emb"),
      VectorOps.norm(col("q_emb")).as("q_nrm"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(VectorOps.cosinePrenormed(
          VectorOps.dotPrecast(col("qd_emb"), col("v_emb")),
          col("q_nrm"), col("v_nrm")), 4).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Hard-negative mining for metric/embedding training: per query,
    * the top-k most similar vectors with a DIFFERENT label — the
    * near-miss negatives contrastive training needs (random negatives
    * are trivially easy; the informative ones sit just across the
    * decision boundary). `vectors`: (vec_id, embedding, label);
    * `queries`: (query_id, q_emb, q_label).
    *
    * Scale shape: the label filter applies INSIDE the scoring stage
    * (before any aggregation state exists), and ranking is the
    * bounded-heap aggregate — map-side combine, |queries|·k rows
    * shuffled, never a per-query window. In production the candidate
    * stage is any of the ANN paths (LSH/IVF) with the same filter;
    * this exact form is the oracle-able baseline, mirroring
    * [[bruteForceTopK]]. */
  def hardNegativesTopK(vectors: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val v = vectors.select(col("vec_id"), col("label"),
      VectorOps.toDoubleVec(col("embedding")).as("v_emb"),
      VectorOps.norm(col("embedding")).as("v_nrm"))
    val q = queries.select(col("query_id"), col("q_label"),
      VectorOps.toDoubleVec(col("q_emb")).as("qd_emb"),
      VectorOps.norm(col("q_emb")).as("q_nrm"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id"),
        round(VectorOps.cosinePrenormed(
          VectorOps.dotPrecast(col("qd_emb"), col("v_emb")),
          col("q_nrm"), col("v_nrm")), 4).as("sim"))
    heapTopK(scored, k)
  }

  /** Deterministic seeded hyperplanes: nTables × nPlanes × dim gaussians. */
  private[graft] def hyperplanes(nTables: Int, nPlanes: Int, dim: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new Random(seed)
    Array.fill(nTables, nPlanes, dim)(rnd.nextGaussian())
  }

  /** (id, table, bucket) exploded per table — one native pass over the
    * whole plane matrix (graft.functions.HyperplaneBuckets; the
    * compositional per-plane form spent seconds just Janino-compiling
    * nTables×nPlanes literal-array dot expressions). */
  private def bucketed(df: DataFrame, idCol: String, embCol: String,
      planes: Array[Array[Array[Double]]]): DataFrame =
    df.select(col(idCol),
        posexplode(graft.functions.HyperplaneBuckets(
          VectorOps.toDoubleVec(col(embCol)), planes)))
      .select(col(idCol), col("pos").as("tbl"), col("col").as("bucket"))

  /** LSH-bucketed approximate top-k, same output shape as brute force. */
  def lshTopK(vectors: DataFrame, queries: DataFrame, k: Int,
      nTables: Int = 4, nPlanes: Int = 8, seed: Long = 42L,
      dim: Int = 64): DataFrame = {
    // HyperplaneBuckets fails loudly if dim doesn't match the data
    val planes = hyperplanes(nTables, nPlanes, dim, seed)

    val vb = bucketed(vectors, "vec_id", "embedding", planes)
    val qb = bucketed(queries, "query_id", "q_emb", planes)
    val candidates = vb.join(broadcast(qb), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()

    val v = vectors.select(col("vec_id"),
      VectorOps.toDoubleVec(col("embedding")).as("v_emb"),
      VectorOps.norm(col("embedding")).as("v_nrm"))
    val q = queries.select(col("query_id"),
      VectorOps.toDoubleVec(col("q_emb")).as("qd_emb"),
      VectorOps.norm(col("q_emb")).as("q_nrm"))
    val scored = candidates
      .join(v, "vec_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(VectorOps.cosinePrenormed(
          VectorOps.dotPrecast(col("qd_emb"), col("v_emb")),
          col("q_nrm"), col("v_nrm")), 4).as("sim"))
    heapTopK(scored, k)
  }

  /** MMR relevance/diversity trade-off λ and selection depth — shared
    * with the generated oracle SQL (λ and 1−λ cross the engine
    * boundary via the exact-double literal discipline, sqlDouble). */
  val MmrLambda = 0.7
  val MmrSelectK = 5

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98): greedily select `selectK` results from each query's
    * shortlist, each pick maximizing λ·sim(q,d) − (1−λ)·max_{s∈Sel}
    * sim(d,s) — the diversity-aware final stage a RAG retriever runs
    * so the context window isn't k copies of the same passage.
    * `shortlist`: (query_id, vec_id, sim) — any top-k output (brute
    * or ANN); `vectors` supplies embeddings for the candidate-pair
    * similarities. Ties break on smaller vec_id; scores are rounded
    * to 4 BEFORE each argmax so the greedy path is identical across
    * engines.
    *
    * Scale shape: everything is shortlist-sized — the pair-sim
    * relation is |q|·k² rows (k a small constant; the corpus never
    * appears), each greedy round is one bounded join + partial-agg
    * max(struct) per query (no window anywhere), and `selectK` is a
    * compile-time-constant loop of such rounds with the selection
    * checkpointed per round so plan depth stays flat. */
  def mmrRerank(shortlist: DataFrame, vectors: DataFrame,
      selectK: Int = MmrSelectK, lambda: Double = MmrLambda): DataFrame =
    mmrRerankPrenormed(shortlist, normalizedVectors(vectors), selectK, lambda)

  /** [[mmrRerank]] over ALREADY cast-and-normed candidate vectors
    * (`(vec_id, emb, nrm)` — [[normalizedVectors]]'s schema, which is
    * also [[EmbStore]]'s persisted vector table): the store-backed
    * serving path re-ranks straight off stored rows — zero
    * re-embed/re-cast/re-norm — and shares the greedy machinery with
    * the inline form verbatim, so the two can never drift. */
  def mmrRerankPrenormed(shortlist: DataFrame, normed: DataFrame,
      selectK: Int = MmrSelectK, lambda: Double = MmrLambda): DataFrame = {
    val sl = shortlist.select(col("query_id"), col("vec_id"), col("sim"))
      .seamCheckpoint(false)
    val v = normed.select(col("vec_id"), col("emb"), col("nrm"))
    val a = sl.select(col("query_id"), col("vec_id")).join(v, "vec_id")
      .select(col("query_id"), col("vec_id").as("vec_a"),
        col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = sl.select(col("query_id"), col("vec_id")).join(v, "vec_id")
      .select(col("query_id"), col("vec_id").as("vec_b"),
        col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    val pair = a.join(b, Seq("query_id"))
      .filter(col("vec_a") =!= col("vec_b"))
      .select(col("query_id"), col("vec_a"), col("vec_b"),
        round(VectorOps.cosinePrenormed(
          VectorOps.dotPrecast(col("emb_a"), col("emb_b")),
          col("nrm_a"), col("nrm_b")), 4).as("psim"))
      .seamCheckpoint(false)
    val lam = lit(lambda)
    val om = lit(1.0 - lambda) // the exact double Spark computes; the
                               // oracle embeds the same bits (sqlDouble)
    var sel = mmrPickBest(
      sl.select(col("query_id"), col("vec_id"),
        round(lam * col("sim"), 4).as("score")), 1)
      .seamCheckpoint(false)
    for (r <- 2 to selectK) {
      val remaining = sl.join(sel.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_anti")
      val scored = remaining
        .join(pair.withColumnRenamed("vec_a", "vec_id"),
          Seq("query_id", "vec_id"))
        .join(sel.select(col("query_id"), col("vec_id").as("vec_b")),
          Seq("query_id", "vec_b"))
        .groupBy(col("query_id"), col("vec_id"), col("sim"))
        .agg(max(col("psim")).as("msel"))
        .select(col("query_id"), col("vec_id"),
          round(lam * col("sim") - om * col("msel"), 4).as("score"))
      sel = sel.unionByName(mmrPickBest(scored, r)).seamCheckpoint(false)
    }
    sel.select(col("query_id"), col("rk"), col("vec_id"), col("score"))
  }

  /** One greedy MMR selection: argmax by (score, then smaller vec_id)
    * as a partial-agg max(struct) — the keepByQuality idiom, never a
    * window (a hot query's whole shortlist in one window task would be
    * the WindowExec hazard class, pointless when a heap-free max
    * combines map-side). private[graft]: the plan pin asserts the
    * idiom here, because the per-round checkpoints hide it from the
    * composed query's final plan string. */
  private[graft] def mmrPickBest(scored: DataFrame, rk: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(max(struct(col("score").as("s"),
        bitwise_not(col("vec_id")).as("inv"))).as("b"))
      .select(col("query_id"), bitwise_not(col("b.inv")).as("vec_id"),
        col("b.s").as("score"), lit(rk.toLong).as("rk"))

  /** Final ranking for every candidate-generation path: top-k per query
    * via the bounded-heap aggregate ([[graft.functions.TopKByScore]]),
    * NOT a per-query row_number window — the heap partially combines
    * map-side (each partition reduces to ≤ k pairs before the shuffle,
    * |queries|·k rows exchanged), whereas WindowExec would funnel a hot
    * query's ENTIRE candidate set — a degenerate LSH bucket, a dense
    * IVF cell — into one unsplittable task with no partial aggregation.
    * Bit-identical output to the window form: same rounded score, same
    * (score DESC, vec_id ASC) total order (proven by ann_brute vs
    * ann_topk_agg and pinned in SimilaritySearchSpec). */
  private[operators] def heapTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore(col("sim"), col("vec_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        col("col.id").as("vec_id"),
        col("col.score").as("sim"),
        (col("pos") + 1).cast("long").as("rk"))

  /** Brute-force top-k via the bounded-heap aggregate instead of a
    * ranking window: map-side partial combine reduces each partition to
    * ≤ k pairs before the shuffle (|queries|·k rows exchanged instead of
    * every scored candidate). Output is bit-identical to
    * bruteForceTopK — same total order, same rounding. */
  def bruteForceTopKHeap(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame =
    bruteForceTopKHeapPrenormed(normalizedVectors(vectors), queries, k)

  /** [[bruteForceTopKHeap]] over ALREADY cast-and-normed corpus rows
    * (`(vec_id, emb, nrm)` — [[normalizedVectors]]'s schema, which is
    * also [[EmbStore]]'s persisted vector table): the store-backed
    * serving path scores stored vectors directly, zero per-query
    * re-cast/re-norm, and shares this exact scoring with the inline
    * form so the two can never drift. */
  def bruteForceTopKHeapPrenormed(normed: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val v = normed.select(col("vec_id"),
      col("emb").as("v_emb"), col("nrm").as("v_nrm"))
    val q = queries.select(col("query_id"),
      VectorOps.toDoubleVec(col("q_emb")).as("qd_emb"),
      VectorOps.norm(col("q_emb")).as("q_nrm"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(VectorOps.cosinePrenormed(
          VectorOps.dotPrecast(col("qd_emb"), col("v_emb")),
          col("q_nrm"), col("v_nrm")), 4).as("sim"))
    heapTopK(scored, k)
  }

  /** Int8 scalar-quantized brute-force cosine top-k — the
    * memory/bandwidth play of production vector systems (4× smaller
    * vectors, integer dot products): each vector is encoded as
    * round(x / scale) with scale = max|x|/127. Scoring by QUANTIZED
    * cosine makes the per-vector scales cancel, so the similarity is
    * pure integer arithmetic (exact, order-independent, trivially
    * cross-engine) divided by two integer-derived norms — no float
    * accumulation anywhere. Ranking and output shape match
    * [[bruteForceTopKHeap]]; recall vs the exact scorer is asserted in
    * the spec (int8 cosine error is ~1e-2, far inside the gap between
    * non-neighbors and true neighbors for real embeddings). */
  def bruteForceTopKInt8(vectors: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    def withCodes(df: DataFrame, emb: String): DataFrame = df
      .withColumn("scale",
        array_max(transform(col(emb), x => abs(x.cast("double")))) / 127.0)
      .withColumn("code",
        when(col("scale") === 0d, transform(col(emb), _ => lit(0L)))
          .otherwise(transform(col(emb),
            x => round(x.cast("double") / col("scale")).cast("long"))))
      .withColumn("cn", sqrt(aggregate(
        transform(col("code"), x => x * x), lit(0L),
        (acc, x) => acc + x).cast("double")))
    val v = withCodes(vectors, "embedding")
      .select(col("vec_id"), col("code").as("v_code"), col("cn").as("v_n"))
    val q = withCodes(queries, "q_emb")
      .select(col("query_id"), col("code").as("q_code"), col("cn").as("q_n"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(when(col("q_n") * col("v_n") === 0d, lit(0d))
          .otherwise(aggregate(
            zip_with(col("q_code"), col("v_code"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).cast("double") /
            (col("q_n") * col("v_n"))), 4).as("sim"))
    heapTopK(scored, k)
  }

  /** Default bucket cap for the embedding LSH candidate joins, shared
    * with the generated oracle SQL (the NgramMaxBlockSize pattern). */
  val EmbLshMaxBucketSize = 1000

  /** LSH-bucketed cosine near-dup pairs — the scale path for
    * cosineNearDupPairs: candidates are pairs sharing a hyperplane
    * bucket in ANY table (cost ≈ sum of squared bucket sizes, near-
    * linear for non-degenerate corpora, vs the exact form's |corpus|²),
    * then exact-cosine verified. Recall at threshold θ with L tables of
    * p planes is 1-(1-(1-acos(θ)/π)^p)^L — tune (nTables, nPlanes) per
    * corpus; verification keeps precision exact.
    *
    * Degenerate buckets are capped BEFORE pair generation with the same
    * partial-agg count + broadcast anti-join as every other banding
    * path (Dedup LSH/simhash): a mass-duplicated embedding (boilerplate
    * vectorized twice, zero vectors, a collapsed encoder) puts
    * thousands of ids into the IDENTICAL bucket of EVERY table — an
    * m²/2 candidate blow-up no AQE split can undo. Same documented
    * recall tradeoff: pairs inside a dropped bucket are missed on that
    * table; identical embeddings share all tables, so an over-cap
    * exact-dup family is dropped entirely (route such corpora through
    * exact dedup on a vector hash first). */
  def lshNearDupPairs(vectors: DataFrame, threshold: Double,
      nTables: Int = 8, nPlanes: Int = 8, seed: Long = 42L,
      dim: Int = 64,
      maxBucketSize: Int = EmbLshMaxBucketSize): DataFrame = {
    val planes = hyperplanes(nTables, nPlanes, dim, seed)
    // r17: `vectors` itself is consumed twice (bucketing + the
    // verification side) and its lineage may be an expensive
    // chunk+embed scan — a SMALL input (below cluster parallelism,
    // the ScalePolicy guard) additionally materializes it once; a
    // corpus-scale input skips the copy (there the persisted EmbStore
    // is the serving artifact, and re-scanning beats materializing a
    // corpus-sized vector table).
    val small = ScalePolicy.narrow(vectors)
    val vecs = if (small) vectors.seamCheckpoint(false) else vectors
    // consumed by the bucket count AND both join sides — materialize the
    // narrow (id, tbl, bucket) rows once (lazy localCheckpoint, same
    // rationale as the Dedup banding paths)
    val vb = bucketed(vecs, "vec_id", "embedding", planes)
      .seamCheckpoint(false)
    nearDupPairsTail(vb, None, normalizedVectors(vecs), threshold,
      maxBucketSize)
  }

  /** (vec_id, tbl, bucket) hyperplane bucket rows — the candidate-join
    * artifact an [[EmbStore]] persists for the store-backed probe. */
  def lshBucketRows(vectors: DataFrame, nTables: Int = 8, nPlanes: Int = 8,
      seed: Long = 42L, dim: Int = 64): DataFrame =
    bucketed(vectors, "vec_id", "embedding",
      hyperplanes(nTables, nPlanes, dim, seed))

  /** (vec_id, emb, nrm) pre-cast/pre-normed vectors — the verification
    * artifact an [[EmbStore]] persists (the cast and norm are computed
    * once at ingest, not per probe). */
  def normalizedVectors(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
      VectorOps.toDoubleVec(col("embedding")).as("emb"),
      VectorOps.norm(col("embedding")).as("nrm"))

  /** Incremental (batch-merge) embedding near-dup: a NEW batch's
    * buckets probed against the full-corpus view — same probe topology
    * and guarantees as Dedup.incrementalMinhashLsh ((seen, new) pairs
    * once, batch-internal pairs once canonicalized, (seen, seen) never
    * re-paired; equivalent to the full self-dedup restricted to pairs
    * touching the batch, since bucketing is a pure per-vector
    * function). The bucket cap counts over the full view, matching the
    * self-dedup semantics. */
  def incrementalLshNearDupPairs(batch: DataFrame, seen: DataFrame,
      threshold: Double, nTables: Int = 8, nPlanes: Int = 8,
      seed: Long = 42L, dim: Int = 64,
      maxBucketSize: Int = EmbLshMaxBucketSize): DataFrame = {
    val planes = hyperplanes(nTables, nPlanes, dim, seed)
    val pb = bucketed(batch, "vec_id", "embedding", planes)
      .seamCheckpoint(false)
    val sb = bucketed(seen, "vec_id", "embedding", planes)
      .seamCheckpoint(false)
    nearDupPairsTail(pb, Some(sb),
      normalizedVectors(batch.select("vec_id", "embedding")
        .unionByName(seen.select("vec_id", "embedding"))),
      threshold, maxBucketSize)
  }

  /** Store-backed incremental embedding near-dup: the seen corpus's
    * PERSISTED bucket rows and pre-normed vectors ([[EmbStore]]) are
    * probed instead of re-hashing/re-norming the seen side — the
    * 100 TB form of [[incrementalLshNearDupPairs]], same output
    * (EmbStoreSpec pins the plan runs zero hyperplane math over the
    * seen corpus). */
  def incrementalLshNearDupPairsFromStore(batch: DataFrame,
      seenBuckets: DataFrame, seenVectors: DataFrame, threshold: Double,
      nTables: Int = 8, nPlanes: Int = 8, seed: Long = 42L, dim: Int = 64,
      maxBucketSize: Int = EmbLshMaxBucketSize): DataFrame = {
    val planes = hyperplanes(nTables, nPlanes, dim, seed)
    val pb = bucketed(batch, "vec_id", "embedding", planes)
      .seamCheckpoint(false)
    nearDupPairsTail(pb,
      Some(seenBuckets.select(col("vec_id"), col("tbl"), col("bucket"))),
      normalizedVectors(batch.select("vec_id", "embedding"))
        .unionByName(seenVectors.select("vec_id", "emb", "nrm")),
      threshold, maxBucketSize)
  }

  /** Shared candidate tail of the embedding near-dup paths: bucket cap
    * (partial-agg count over the FULL view + broadcast anti-join, never
    * a window) → candidate join → exact-cosine verification against
    * `vAll` — pre-normed (vec_id, emb, nrm) rows covering every doc
    * reachable from either side (a fresh [[normalizedVectors]]
    * projection, or the persisted [[EmbStore]] vector table). */
  private def nearDupPairsTail(probeBucketed: DataFrame,
      seenBucketed: Option[DataFrame], vAll: DataFrame,
      threshold: Double, maxBucketSize: Int): DataFrame = {
    val allB = seenBucketed match {
      case None => probeBucketed
      case Some(s) => probeBucketed.unionByName(s)
    }
    val oversized = allB
      .groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
      .select(col("tbl"), col("bucket"))
    val candA = probeBucketed
      .join(broadcast(oversized), Seq("tbl", "bucket"), "left_anti")
      .select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"))
    val candB = allB
      .join(broadcast(oversized), Seq("tbl", "bucket"), "left_anti")
      .select(col("tbl"), col("bucket"), col("vec_id").as("vec_b"))
    val joined = candA.join(candB, Seq("tbl", "bucket"))
    // self-dedup emits each co-bucket pair once (a < b); the probe form
    // canonicalizes both orientations — a (seen, new) pair is reachable
    // only from its probe endpoint
    val candidates = (seenBucketed match {
      case None =>
        joined.filter(col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"))
      case Some(_) =>
        joined.filter(col("vec_a") =!= col("vec_b"))
          .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
            greatest(col("vec_a"), col("vec_b")).as("vec_b"))
    }).distinct()

    candidates
      .join(vAll.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
        col("nrm").as("nrm_a")), "vec_a")
      .join(vAll.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
        col("nrm").as("nrm_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(VectorOps.cosinePrenormed(
          VectorOps.dotPrecast(col("emb_a"), col("emb_b")),
          col("nrm_a"), col("nrm_b")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Binary (sign) quantization + Hamming ranking — the 1-bit
    * quantization path of production vector stores (binary embeddings /
    * "BQ" indexes): each vector becomes 64 sign bits of seeded random
    * projections (two 32-bit words via [[graft.functions.HyperplaneBuckets]]
    * — one scan-side native pass, no explode), and candidates rank by
    * the number of AGREEING bits. 32× smaller than int8 codes and the
    * scoring is pure integer XOR+popcount — exact, order-independent,
    * trivially cross-engine (no float accumulation anywhere, unlike
    * every cosine path). Sign-random-projection Hamming similarity
    * estimates angular similarity (the SimHash bound:
    * P[bit agrees] = 1 − θ/π), so same-cluster neighbors dominate the
    * top-k; recall vs exact cosine is pinned in the spec. Output shape
    * matches the other ANN paths with sim = agreeing-bit count. */
  def bruteForceTopKHamming(vectors: DataFrame, queries: DataFrame,
      k: Int, seed: Long = 42L, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nTables = 2, nPlanes = 32, dim, seed)
    def codes(df: DataFrame, idCol: String, embCol: String): DataFrame =
      df.select(col(idCol),
          graft.functions.HyperplaneBuckets(
            VectorOps.toDoubleVec(col(embCol)), planes).as("c"))
        .select(col(idCol),
          element_at(col("c"), 1).as("c0"),
          element_at(col("c"), 2).as("c1"))
    val v = codes(vectors, "vec_id", "embedding")
    val q = codes(queries, "query_id", "q_emb")
      .withColumnRenamed("c0", "q0").withColumnRenamed("c1", "q1")
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (lit(64) - bit_count(col("c0").bitwiseXOR(col("q0")))
          - bit_count(col("c1").bitwiseXOR(col("q1"))))
          .cast("double").as("sim"))
    heapTopK(scored, k)
  }

  /** Default cell cap for the semantic (IVF-cell-blocked) near-dup
    * candidate join, shared with the generated oracle SQL. */
  val SemDedupMaxCellSize = 1000

  /** SemDeDup — semantic near-duplicate pairs blocked by the IVF
    * coarse quantizer (the published web-scale curation recipe:
    * k-means the embedding space, compare only within a cluster;
    * Abbas et al. 2023, arXiv:2303.09540): candidates are pairs
    * sharing a k-means CELL, then exact-cosine verified — unlike the
    * hyperplane LSH blocker, the blocking structure here is the SAME
    * trained artifact [[IvfIndex]] uses for ANN serving, so one
    * quantizer (and one persisted inverted file) powers both search
    * and dedup-at-ingest.
    *
    * Scale shape: cell assignment is one scan-side native argmin
    * ([[graft.functions.CentroidAssign]]); within-cell pairing costs
    * O(Σ cell²) — production sizes nlist ≈ √N (the faiss guidance),
    * keeping cells ~√N and candidate volume ~N·(cells' balance
    * factor). Degenerate cells (a collapsed encoder, mass-duplicated
    * boilerplate vectors) are capped BEFORE pair generation with the
    * same partial-agg count + broadcast anti-join as every banding
    * path; pairs inside a dropped cell are missed — the documented
    * recall tradeoff (route exact-dup families through hash dedup
    * first). Verification is exact cosine over pre-normed vectors, so
    * precision is exact at any scale. */
  def semanticNearDupPairs(vectors: DataFrame, centroids: Seq[Seq[Double]],
      threshold: Double,
      maxCellSize: Int = SemDedupMaxCellSize): DataFrame = {
    // one assignment pass feeds both the cell blocker and the
    // verification vectors (emb/nrm are already cast+normed there)
    val indexed = IvfIndex.index(vectors, centroids).seamCheckpoint(false)
    semanticNearDupPairsFromIndexed(indexed, threshold, maxCellSize)
  }

  /** [[semanticNearDupPairs]] over an ALREADY cell-assigned (and
    * typically materialized) inverted-file row set — the seam that
    * lets a caller which needs the indexed rows for its own tail
    * (keep-farthest's centroid distances) share ONE assignment pass
    * instead of re-running the argmin over the corpus (r18). */
  def semanticNearDupPairsFromIndexed(indexed: DataFrame,
      threshold: Double,
      maxCellSize: Int = SemDedupMaxCellSize): DataFrame =
    nearDupPairsTail(cellBuckets(indexed), None, indexedVecs(indexed),
      threshold, maxCellSize)

  /** Store-backed incremental SemDeDup: a NEW batch is cell-assigned
    * (scan-side argmin) and probed against the PERSISTED inverted
    * file's (vec_id, emb, v_nrm, cell) rows — the same [[IvfStore]]
    * artifact ANN serving reads, so dedup-at-ingest pays zero
    * recompute over the seen corpus (no assignment, no cast, no
    * norm). Same probe guarantees as every incremental banding path:
    * (seen, new) pairs once, batch-internal pairs canonicalized,
    * (seen, seen) never re-paired — output ≡ the full
    * [[semanticNearDupPairs]] restricted to pairs touching the batch
    * (cell assignment is a pure per-vector function). The cell cap
    * counts over the full view, matching the self-dedup semantics. */
  def incrementalSemanticNearDupPairsFromStore(batch: DataFrame,
      seenIndexed: DataFrame, centroids: Seq[Seq[Double]],
      threshold: Double,
      maxCellSize: Int = SemDedupMaxCellSize): DataFrame = {
    val pb = IvfIndex.index(batch, centroids).seamCheckpoint(false)
    nearDupPairsTail(cellBuckets(pb), Some(cellBuckets(seenIndexed)),
      indexedVecs(pb).unionByName(indexedVecs(seenIndexed)),
      threshold, maxCellSize)
  }

  /** SemDeDup's published keep policy (arXiv:2303.09540 §3): within
    * each semantic-duplicate CLUSTER (connected components over the
    * verified pair graph — the shared component loop) keep the
    * member FARTHEST from its cell centroid, the diversity-maximizing
    * choice: the member nearest the centroid is the most redundant
    * with the cell's bulk. "Farthest" ranks on the exact relative
    * distance ||c||² − 2·v·c the assignment argmin uses (two native
    * sequential dots — no new arithmetic class), ties → min id; the
    * argmax is [[Dedup.keepByQuality]]'s single partial aggregation,
    * never a per-cluster window. Returns the surviving vec_ids. */
  def semanticDedupKeepFarthest(vectors: DataFrame,
      centroids: Seq[Seq[Double]], threshold: Double,
      maxCellSize: Int = SemDedupMaxCellSize): DataFrame = {
    import graft.functions.{CentroidVec, VectorOps}
    // ONE assignment pass (r18): the pair source and the farthest-rank
    // distances below both consume the indexed rows — previously this
    // ran IvfIndex.index over the corpus twice (once checkpointed
    // inside semanticNearDupPairs, once fresh here)
    val indexed = IvfIndex.index(vectors, centroids).seamCheckpoint(false)
    val pairs = semanticNearDupPairsFromIndexed(indexed, threshold,
        maxCellSize)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val clusters = Dedup.nearDupClustersFromPairs(
      vectors.select(col("vec_id").as("doc_id")), "doc_id", pairs,
      trustedPairs = true)
    val cv = CentroidVec(col("cell"), centroids)
    val withDist = clusters.select(col("doc_id"), col("cluster_id"))
      .join(indexed.select(col("vec_id").as("doc_id"),
        (VectorOps.dotPrecast(cv, cv) -
          lit(2d) * VectorOps.dotPrecast(col("emb"), cv))
          .as("quality")), "doc_id")
    Dedup.keepByQuality(withDist)
      .filter(col("keep"))
      .select(col("doc_id").as("vec_id"))
  }

  val ProtoKeepFrac = 0.5

  /** Prototypicality pruning (Sorscher et al., "Beyond neural scaling
    * laws: beating power law scaling via data pruning", NeurIPS 2022):
    * score each example by cosine similarity to its k-means prototype
    * (its IVF cell centroid — the SAME trained quantizer the ANN index
    * and SemDeDup use) and, per cell, KEEP the hardest keepFrac
    * fraction — the least prototypical examples, which the paper shows
    * carry the most training signal when data is abundant. Pruning
    * per-CELL rather than by global score keeps every cluster
    * represented (global pruning would empty the easiest clusters
    * entirely — the imbalance failure mode the follow-up literature
    * warns about).
    *
    * Scale shape: assignment + scoring are scan-side native
    * expressions over the indexed rows ([[IvfIndex.index]] — in
    * serving this is the PERSISTED inverted file, so no recompute);
    * ranking is a per-cell window, bounded by ~|corpus|/nlist rows —
    * strictly cheaper than the O(cell²) pairing [[semanticNearDupPairs]]
    * already runs per cell, with [[graft.packs.SimilarityOps.ivfCellStats]]
    * as the operational balance guard; the keep count joins back from
    * a partial-agg cell count. Ranks on the ROUNDED score (ulp-proof)
    * with id tie-break. */
  def prototypePrune(vectors: DataFrame, centroids: Seq[Seq[Double]],
      keepFrac: Double = ProtoKeepFrac): DataFrame =
    prototypePruneFromIndexed(IvfIndex.index(vectors, centroids),
      centroids, keepFrac)

  /** [[prototypePrune]] over PRE-ASSIGNED rows — [[IvfIndex.index]]'s
    * output or the persisted [[IvfStore]] table: the serving form runs
    * NO assignment argmin over the corpus (paid once at ingest); the
    * only per-row work left is one dot against the row's own centroid.
    * Identical output to the recompute form over the same rows. */
  def prototypePruneFromIndexed(indexed: DataFrame,
      centroids: Seq[Seq[Double]],
      keepFrac: Double = ProtoKeepFrac): DataFrame = {
    import graft.functions.CentroidVec
    val cv = CentroidVec(col("cell"), centroids)
    val cNrm = sqrt(VectorOps.dotPrecast(cv, cv))
    val scored = indexed
      .select(col("vec_id"), col("cell"),
        round(when(col("v_nrm") * cNrm === 0, lit(0.0))
          .otherwise(VectorOps.dotPrecast(col("emb"), cv) /
            (col("v_nrm") * cNrm)), 4).as("proto"))
    val counts = scored.groupBy(col("cell")).agg(count(lit(1)).as("n_cell"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("proto").asc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(counts), "cell")
      .filter(col("rk") <= ceil(lit(keepFrac) * col("n_cell")))
      .select(col("vec_id"), col("cell"), col("proto"), col("rk"))
  }

  // adapt an inverted-file row set to the shared candidate tail: the
  // IVF cell is a single-"table" bucket
  private def cellBuckets(indexed: DataFrame): DataFrame =
    indexed.select(col("vec_id"), lit(0).as("tbl"),
      col("cell").cast("long").as("bucket"))

  private def indexedVecs(indexed: DataFrame): DataFrame =
    indexed.select(col("vec_id"), col("emb"), col("v_nrm").as("nrm"))

  /** All pairs above a cosine threshold (embedding near-dup). Exact
    * (self-join) form — the LSH bucket join is the scale path for
    * high thresholds. */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double): DataFrame = {
    // both join sides read this projection — materialize it once
    // (r17; the broadcast build otherwise re-runs the upstream
    // embedding scan single-threaded). This form is documented as the
    // non-scale path, so the copy is unconditionally cheap.
    val v = vectors.select(col("vec_id"),
      VectorOps.toDoubleVec(col("embedding")).as("emb"),
      VectorOps.norm(col("embedding")).as("nrm"))
      .seamCheckpoint(false)
    val a = v.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
      col("nrm").as("nrm_a"))
    val b = v.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
      col("nrm").as("nrm_b"))
    // Broadcast the right side: one nested-loop pass, no cartesian
    // shuffle blow-up (a real corpus would use the LSH bucket join for
    // this — exact all-pairs is inherently quadratic).
    a.crossJoin(broadcast(b))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VectorOps.cosinePrenormed(
          VectorOps.dotPrecast(col("emb_a"), col("emb_b")),
          col("nrm_a"), col("nrm_b")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Semantic (embedding-cosine) decontamination: a verdict per CORPUS
    * vector against an entire held-out benchmark/eval set — the
    * embedding analog of the n-gram [[TextAnalysis.contamination]]
    * gate, catching paraphrased eval leakage that shares no literal
    * shingle with the benchmark. Output per corpus vector: the number
    * of eval vectors at or above `threshold` cosine, the best cosine
    * seen (4 dp, the ranking evidence an audit reads), and the boolean
    * verdict.
    *
    * Scale shape: benchmark suites are tiny (10³–10⁴ rows) next to a
    * 100 TB corpus, so the EVAL side broadcasts pre-normed and the
    * corpus scans ONCE — broadcast nested-loop scoring into a partial
    * aggregate on the corpus id (map-side combine; |corpus| output
    * rows, nothing corpus-sized shuffles). Exact by construction: a
    * compliance gate should not carry an LSH recall asterisk, and at
    * |eval| ≪ |corpus| the brute product is cheaper than bucketing. */
  def semanticContamination(corpus: DataFrame, eval: DataFrame,
      threshold: Double): DataFrame =
    semanticContaminationFrom(normalizedVectors(corpus),
      normalizedVectors(eval), threshold)

  /** [[semanticContamination]] over PRE-NORMED sides — the store-probe
    * seam: `evalNormed` is (vec_id, emb, nrm) rows, either a fresh
    * [[normalizedVectors]] projection or an [[EmbStore]]'s persisted
    * vector table (zero re-cast/re-norm of the benchmark per run). */
  def semanticContaminationFrom(corpusNormed: DataFrame,
      evalNormed: DataFrame, threshold: Double): DataFrame = {
    val ev = evalNormed.select(col("vec_id").as("eval_id"),
      col("emb").as("e_emb"), col("nrm").as("e_nrm"))
    corpusNormed.crossJoin(broadcast(ev))
      .select(col("vec_id"),
        round(VectorOps.cosinePrenormed(
          VectorOps.dotPrecast(col("emb"), col("e_emb")),
          col("nrm"), col("e_nrm")), 4).as("sim"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("sim") >= threshold, 1L).otherwise(0L))
          .as("n_matches"),
        max(col("sim")).as("max_sim"))
      .select(col("vec_id"), col("n_matches"), col("max_sim"),
        (col("n_matches") > 0L).as("contaminated"))
  }
}
