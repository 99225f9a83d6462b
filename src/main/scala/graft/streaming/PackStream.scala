package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Shared scaffolding of the per-shard layout-state stores
  * ([[PackStore]], [[PaddedPackStore]]): a versioned parquet table of
  * `(batch_id, shard, ...state)` rows where each merge folds everything
  * older than the incoming batch into [[PackStore.FoldedBatch]]-tagged
  * rows and appends the batch's rows under its own id — state stays
  * ≤ 2·nShards rows forever, and the strict `batch_id < B` read seam
  * makes at-least-once replays re-emit identical rows. Subclasses
  * supply only the state schema and the per-shard fold reduction
  * (additive totals vs newest-wins resume triples) — the scaffolding,
  * replay guard, and parameter pinning exist ONCE.
  *
  * nShards and budget live ON the store — a layout is only coherent if
  * every batch agrees on both (a mid-stream budget change would
  * re-chunk the already-emitted sequence ids) — and are PERSISTED next
  * to the versioned state: restart adoption `require`s that the
  * adopting store was constructed with the parameters that wrote the
  * layout, closing the one seam where a silent parameter change could
  * corrupt an already-emitted stream. */
private[streaming] abstract class ShardLayoutStore(
    val nShards: Int, val budget: Int, dir: String) extends ReplayGuarded {

  require(nShards >= 1, s"nShards must be >= 1, got $nShards")
  require(budget >= 1, s"budget must be >= 1, got $budget")

  protected val store = new VersionedParquetStore(dir)

  locally {
    // store TYPE rides along with the parameters: a PaddedPackStore
    // adopting a PackStore's totals (or vice versa) under matching
    // (nShards, budget) would otherwise only fail deep inside a later
    // schema resolution instead of loudly at construction
    val self = s"${getClass.getSimpleName},$nShards,$budget"
    val paramsFile = Paths.get(dir, "layout_params")
    if (Files.exists(paramsFile)) {
      val stored = new String(Files.readAllBytes(paramsFile), UTF_8).trim
      require(stored.split(",").length == 3,
        s"corrupt layout_params at $dir: '$stored' — the file is written " +
          "atomically (temp + rename), so this indicates external damage")
      require(stored == self,
        s"store at $dir was written as '$stored' — adopting it as '$self' " +
          "would re-chunk or mis-type the already-emitted layout; a layout " +
          "is only coherent under the store type and parameters that wrote it")
    } else {
      // temp-file + atomic rename: a crash mid-write can't leave a
      // truncated file for the next adoption to trip over. (Two brand-
      // new writers racing the SAME empty dir remains the documented
      // single-driver contract, as for the version pointer itself.)
      Files.createDirectories(Paths.get(dir))
      val tmp = Files.createTempFile(Paths.get(dir), ".layout_params", ".tmp")
      Files.write(tmp, self.getBytes(UTF_8))
      try Files.move(tmp, paramsFile,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          val stored = new String(Files.readAllBytes(paramsFile), UTF_8).trim
          require(stored == self,
            s"store at $dir was concurrently initialized as '$stored', " +
              s"this writer wanted '$self'")
      }
    }
  }

  /** The store's (empty) state schema: `batch_id, shard, <stateCols>`. */
  protected def emptyState(spark: SparkSession): DataFrame

  /** The state columns after `(batch_id, shard)`. */
  protected def stateCols: Seq[String]

  /** Per-shard fold of rows older than the incoming batch — reduce to
    * ONE row per shard (tagged by the caller). */
  protected def foldPerShard(older: DataFrame): DataFrame

  /** Current state table. Empty before the first merge. ≤ 2·nShards
    * rows by construction. */
  def table(spark: SparkSession): DataFrame = store.current match {
    case None    => emptyState(spark)
    case Some(d) => spark.read.parquet(d)
  }

  /** True when `batchId` was already merged — [[merge]] would no-op and
    * the emission for it is a pure replay read. */
  def isReplay(batchId: Long): Boolean = store.isReplay(batchId)

  /** Merge one batch's per-shard state rows (shard, <stateCols>): fold
    * all older rows into per-shard [[PackStore.FoldedBatch]] sentinels
    * (shards the batch didn't touch keep their state there), append the
    * batch's rows under its own id. batchId-idempotent via the shared
    * version-publish guard. */
  def merge(contrib: DataFrame, batchId: Long): Unit = synchronized {
    require(batchId >= 0,
      s"${getClass.getSimpleName}.merge needs a real (monotonic, >= 0) " +
        s"batchId for its base-state arithmetic, got $batchId")
    val spark = contrib.sparkSession
    store.publish(batchId) { nextDir =>
      val folded =
        foldPerShard(table(spark).filter(col("batch_id") < lit(batchId)))
          .select(lit(PackStore.FoldedBatch).as("batch_id") +:
            (col("shard") +: stateCols.map(col)): _*)
      val tagged = contrib.select(lit(batchId).as("batch_id") +:
        ("shard" +: stateCols.toList).map(c => col(c).cast("long").as(c)): _*)
      folded.unionByName(tagged)
        .write.mode(SaveMode.Overwrite).parquet(nextDir)
    }
  }
}

/** Streaming twin of [[graft.operators.TextAnalysis.packSequences]] —
  * the training-output layout maintained incrementally over an
  * unbounded ingest stream.
  *
  * Batch packing orders the WHOLE corpus by the salted hash; a stream
  * cannot re-sort history (the already-emitted layout is immutable), so
  * the streaming layout is arrival-major: batches occupy the token
  * stream in arrival order, hash-ordered WITHIN each batch. The only
  * state that needs to persist is per-shard totals — how many docs and
  * tokens each shard has absorbed — because the packing arithmetic is a
  * pure prefix sum: batch N's rows are exactly
  * `packColumns(shardPackRows(batch))` on top of batches 1..N-1's
  * accumulated totals (ONE shared arithmetic with the batch operator,
  * so the two forms cannot drift).
  *
  * State shape: `(batch_id, shard, n_docs, n_tokens)` — the folded
  * history (one `FoldedBatch` row per shard) plus the LAST batch's
  * per-shard contribution. Keeping the last contribution under its own
  * batch_id is what makes replay exact: the base offsets for batch B
  * read `batch_id < B`, so an at-least-once REPLAY of the last batch
  * (its contribution already merged, tagged B) recomputes the identical
  * emission — the same exclude-the-batch's-own-rows trick the band/gram
  * stores use, in aggregate form. */
final class PackStore(nShards: Int, budget: Int, dir: String)
    extends ShardLayoutStore(nShards, budget, dir) {

  def this(nShards: Int, budget: Int) =
    this(nShards, budget,
      Files.createTempDirectory("graft-pack-store").toString)

  override protected def emptyState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long, Long)]
      .toDF("batch_id", "shard", "n_docs", "n_tokens")
  }

  override protected def stateCols: Seq[String] = Seq("n_docs", "n_tokens")

  /** Totals are additive — the fold is a per-shard SUM. */
  override protected def foldPerShard(older: DataFrame): DataFrame =
    older.groupBy(col("shard"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))

  /** Per-shard base offsets for batch `batchId`: the stream's mass
    * STRICTLY BEFORE it — (shard, base_docs, base_toks). Excluding the
    * batch's own id (not just "everything") is the replay-exactness
    * seam; monotonic foreachBatch ids make the two equivalent on a
    * first run. */
  def totalsBefore(spark: SparkSession, batchId: Long): DataFrame =
    table(spark).filter(col("batch_id") < lit(batchId))
      .groupBy(col("shard"))
      .agg(sum(col("n_docs")).cast("long").as("base_docs"),
        sum(col("n_tokens")).cast("long").as("base_toks"))
}

object PackStore {
  /** batch_id sentinel for folded history rows — strictly below every
    * real foreachBatch id, so `batch_id < B` always includes them. */
  val FoldedBatch: Long = -1L
}

/** Streaming twin of [[graft.operators.TextAnalysis.packSequencesPadded]]
  * — the document-isolated training layout maintained incrementally.
  *
  * The padded fold's whole cross-batch state is one resume triple per
  * shard — (n_docs, next_seq, next_off): where the shard's token stream
  * currently ends. Batch N's rows are exactly
  * `paddedPackColumns(shardPackRows(batch))` re-seeded from that triple
  * (the SAME fold the batch operator runs from (0,0,0) — one arithmetic,
  * no drift), and the state after the batch derives from the batch's
  * OUTPUT alone (its per-shard last row), never from a rescan.
  *
  * Unlike [[PackStore]]'s additive totals, resume state is
  * last-writer-wins: the fold is an ARGMAX by batch_id per shard (real
  * ids ≥ 0 outrank the folded sentinel), so a shard updated by the last
  * batch resumes from that batch, everything else from its folded row. */
final class PaddedPackStore(nShards: Int, budget: Int, dir: String)
    extends ShardLayoutStore(nShards, budget, dir) {

  def this(nShards: Int, budget: Int) =
    this(nShards, budget,
      Files.createTempDirectory("graft-padded-pack-store").toString)

  override protected def emptyState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long, Long, Long)]
      .toDF("batch_id", "shard", "n_docs", "next_seq", "next_off")
  }

  override protected def stateCols: Seq[String] =
    Seq("n_docs", "next_seq", "next_off")

  /** Resume state is newest-wins — the fold is a per-shard argmax by
    * batch_id (ONE spelling, shared by [[stateBefore]] through
    * [[merge]]'s fold, so the resume read and the fold cannot disagree
    * on which row is newest). */
  override protected def foldPerShard(older: DataFrame): DataFrame =
    older.groupBy(col("shard"))
      .agg(max(struct(col("batch_id"), col("n_docs"), col("next_seq"),
        col("next_off"))).as("s"))
      .select(col("shard"), col("s.n_docs").as("n_docs"),
        col("s.next_seq").as("next_seq"), col("s.next_off").as("next_off"))

  /** Per-shard resume triples for batch `batchId`: each shard's newest
    * state STRICTLY BEFORE it — (shard, base_docs, base_seq, base_off).
    * The strict inequality is the replay seam. */
  def stateBefore(spark: SparkSession, batchId: Long): DataFrame =
    foldPerShard(table(spark).filter(col("batch_id") < lit(batchId)))
      .select(col("shard"), col("n_docs").as("base_docs"),
        col("next_seq").as("base_seq"), col("next_off").as("base_off"))
}
