package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  IntegerType, LongType}

/** Persisted embedding near-dup artifact — TWO append-only segmented
  * bucketed tables maintained in lockstep:
  *  - bucket rows (vec_id, tbl, bucket), bucketed by bucket: the
  *    candidate-join side ([[SimilaritySearch.lshBucketRows]] output);
  *  - vector rows (vec_id, emb, nrm), bucketed by vec_id: the
  *    verification side ([[SimilaritySearch.normalizedVectors]] output
  *    — the double cast and the norm are paid once at ingest).
  * A probe ([[probe]] / [[SimilaritySearch.incrementalLshNearDupPairsFromStore]])
  * then runs ZERO hyperplane math, zero casts and zero norms over the
  * seen corpus: candidate generation reads a pre-partitioned bucket
  * scan, verification a pre-partitioned vector scan. Completes the
  * store-backed incremental story on the vector side (text:
  * bloom/BandStore/SimhashStore; vectors: IvfStore for serving, this
  * for dedup).
  *
  * The LSH configuration (nTables, nPlanes, seed, dim) is a FIELD of
  * the store, and [[ingest]]/[[probe]] derive their hyperplanes from
  * it — bucket rows persisted under one plane set probed under another
  * would silently match nothing (missed near-dups, no error), so the
  * config-consistent surface is the one to use; the raw
  * [[merge]]/[[bucketRows]]/[[vectorRows]] remain for callers that
  * manage their own artifacts.
  *
  * Maintenance is the shared append-only segment machinery
  * ([[SegmentedBucketedStore]]); both tables share one replay guard
  * via the same batchId passed to [[merge]]. BOTH batches are fully
  * schema-validated (every stored column, not just the id/emb types)
  * BEFORE either table is touched, and the vector table merges first —
  * a half-applied merge then leaves only orphan VECTORS (harmless: no
  * bucket rows, no candidates), never orphan bucket rows whose
  * candidates would silently vanish in the verification join.
  */
final class EmbStore(name: String, buckets: Int = 32, nTables: Int = 8,
    nPlanes: Int = 8, seed: Long = 42L, dim: Int = 64,
    bucketPointer: graft.streaming.StorePointer =
      new graft.streaming.InMemoryPointer,
    vecPointer: graft.streaming.StorePointer =
      new graft.streaming.InMemoryPointer) extends graft.streaming.Segmented {

  private def requireCol(df: DataFrame, colName: String, dt: DataType,
      what: String): Unit = {
    require(df.schema.fieldNames.contains(colName),
      s"EmbStore $what batch is missing column '$colName'")
    require(df.schema(colName).dataType == dt,
      s"EmbStore $what batch column '$colName' must be " +
        s"${dt.catalogString}, got " +
        s"${df.schema(colName).dataType.catalogString}")
  }

  private def requireLongId(df: DataFrame, what: String): Unit =
    require(df.schema.fieldNames.contains("vec_id") &&
      df.schema("vec_id").dataType == LongType,
      s"EmbStore stores LONG vec ids, got " +
        s"${if (df.schema.fieldNames.contains("vec_id"))
          df.schema("vec_id").dataType.catalogString
        else "no vec_id column"} in the $what batch — map ids to a " +
        "surrogate long (e.g. xxhash64) before bucketing")

  private def requireDoubleEmb(df: DataFrame): Unit = {
    require(df.schema.fieldNames.contains("emb"),
      "EmbStore vector batch is missing column 'emb'")
    val embType = df.schema("emb").dataType
    require(embType.isInstanceOf[ArrayType] &&
      embType.asInstanceOf[ArrayType].elementType == DoubleType,
      s"EmbStore stores array<double> embeddings " +
        s"(SimilaritySearch.normalizedVectors output), got " +
        s"${embType.catalogString}")
  }

  // full validation of BOTH stored schemas — called on both batches
  // before either table merges, so a drift can never half-apply
  private def validateBuckets(df: DataFrame): Unit = {
    requireLongId(df, "bucket")
    requireCol(df, "tbl", IntegerType, "bucket")
    requireCol(df, "bucket", LongType, "bucket")
  }
  private def validateVectors(df: DataFrame): Unit = {
    requireLongId(df, "vector")
    requireDoubleEmb(df)
    requireCol(df, "nrm", DoubleType, "vector")
  }

  private val bucketStore =
    new SegmentedBucketedStore(s"${name}_buckets", "bucket", buckets,
        bucketPointer) {
      override protected def emptyTable(spark: SparkSession): DataFrame = {
        import spark.implicits._
        Seq.empty[(Long, Int, Long)].toDF("vec_id", "tbl", "bucket")
      }
      override protected def normalize(batch: DataFrame): DataFrame = {
        validateBuckets(batch)
        batch.select(col("vec_id"), col("tbl"), col("bucket"))
      }
    }

  private val vecStore =
    new SegmentedBucketedStore(s"${name}_vecs", "vec_id", buckets,
        vecPointer) {
      override protected def emptyTable(spark: SparkSession): DataFrame = {
        import spark.implicits._
        Seq.empty[(Long, Seq[Double], Double)].toDF("vec_id", "emb", "nrm")
      }
      override protected def normalize(batch: DataFrame): DataFrame = {
        validateVectors(batch)
        batch.select(col("vec_id"), col("emb"), col("nrm"))
      }
    }

  /** Current bucket rows (vec_id, tbl, bucket). Empty before the first
    * merge. */
  def bucketRows(spark: SparkSession): DataFrame = bucketStore.table(spark)

  /** Current pre-normed vector rows (vec_id, emb, nrm). */
  def vectorRows(spark: SparkSession): DataFrame = vecStore.table(spark)

  /** True when `batchId` was already merged into BOTH tables — lets a
    * foreachBatch body skip computing the batch's artifacts entirely
    * on a replay. The conjunction matters: [[merge]] applies the
    * vector side first, so a bucket-side write failure leaves the
    * batch half-applied — reporting that batch as a replay would skip
    * the retry that heals it (each table's own merge guard makes the
    * retry no-op on the side already applied). */
  def isReplay(batchId: Long): Boolean =
    bucketStore.isReplay(batchId) && vecStore.isReplay(batchId)

  /** Publish an ACCEPTED batch of raw (vec_id, embedding) vectors:
    * bucket rows and pre-normed vectors are derived under the STORE's
    * LSH config, so ingest and probe can never drift apart. */
  def ingest(vectors: DataFrame,
      batchId: Long = graft.streaming.VersionedParquetStore.NoBatchId): Unit =
    merge(
      SimilaritySearch.lshBucketRows(vectors, nTables, nPlanes, seed, dim),
      SimilaritySearch.normalizedVectors(vectors), batchId)

  /** Incremental embedding near-dup of a NEW batch against the stored
    * corpus, under the store's LSH config — the store-backed form of
    * [[SimilaritySearch.incrementalLshNearDupPairs]], identical
    * output, zero hyperplane/cast/norm work over the seen side.
    *
    * `excludeBatchIds` makes an ingest loop replay-exact: on an
    * at-least-once REPLAY the batch's own (already-merged) rows would
    * otherwise appear as its "seen" corpus — excluding them restores
    * the original run's exact probe input, bucket-cap counts included,
    * so the replay computes the same drop set
    * ([[graft.streaming.StreamingPipelines.embNearDupIngestBatch]]'s
    * contract, same shape as the text-side ingest loop). The broadcast
    * anti-join keys on the batch's ids only — the store sides stay
    * bare pre-partitioned scans. */
  def probe(batch: DataFrame, threshold: Double,
      maxBucketSize: Int = SimilaritySearch.EmbLshMaxBucketSize,
      excludeBatchIds: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    val (sb, sv) =
      if (!excludeBatchIds) (bucketRows(spark), vectorRows(spark))
      else {
        val ids = org.apache.spark.sql.functions.broadcast(
          batch.select(col("vec_id")))
        (bucketRows(spark).join(ids, Seq("vec_id"), "left_anti"),
          vectorRows(spark).join(ids, Seq("vec_id"), "left_anti"))
      }
    SimilaritySearch.incrementalLshNearDupPairsFromStore(batch, sb, sv,
      threshold, nTables, nPlanes, seed, dim, maxBucketSize)
  }

  /** Publish an ACCEPTED batch's precomputed artifacts (post-dedup
    * survivors): bucket rows and normalized vectors, under one batchId
    * so an at-least-once replay is a no-op on BOTH tables. Both batches
    * are fully schema-validated BEFORE either table is touched — a
    * half-applied merge would leave the candidate and verification
    * sides inconsistent. Prefer [[ingest]], which also guarantees the
    * bucket rows were computed under the store's LSH config. */
  def merge(batchBuckets: DataFrame, batchVectors: DataFrame,
      batchId: Long = graft.streaming.VersionedParquetStore.NoBatchId): Unit = {
    validateBuckets(batchBuckets)
    validateVectors(batchVectors)
    // vectors FIRST: a crash (or concurrent reader) between the two
    // merges then sees orphan vectors with no bucket rows — harmless,
    // they generate no candidates. The other order loses pairs: orphan
    // BUCKET rows generate candidates that silently vanish in the
    // verification join (missed near-dups) until the retry heals it.
    // The inconsistent window degrades to the safe direction.
    vecStore.merge(batchVectors, batchId)
    bucketStore.merge(batchBuckets, batchId)
  }

  /** Fold both tables' segments ([[SegmentedBucketedStore.compact]]) —
    * restores the two bare partitioning-reporting probe scans and
    * bounds segment count; call on the ingest loop's compaction cadence. */
  def compact(spark: SparkSession): Unit = {
    vecStore.compact(spark)
    bucketStore.compact(spark)
  }

  /** Compact both tables once either exceeds `maxSegments` live
    * segments — the ingest loops' periodic hook. */
  def compactIfNeeded(spark: SparkSession, maxSegments: Int): Unit = {
    vecStore.compactIfNeeded(spark, maxSegments)
    bucketStore.compactIfNeeded(spark, maxSegments)
  }
}
