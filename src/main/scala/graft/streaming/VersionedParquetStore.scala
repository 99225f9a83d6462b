package graft.streaming

import java.nio.file.{Files, Paths}

/** Copy-on-write versioned-parquet publish machinery, shared by the
  * JVM-scoped merge stores ([[CtrStore]]'s KTable target,
  * [[QualityFloorStore]]'s histogram): read-version N, write-version
  * N+1, flip a volatile pointer, retire versions older than N−1 (the
  * in-flight reader window). At cluster scale the same shape is a
  * Delta/Iceberg MERGE; versioned parquet keeps it dependency-free
  * here. Extracting it once keeps the three behaviors that matter —
  * publish atomicity, the reader window, replay skipping — in ONE
  * place instead of diverging copies.
  *
  * Replay idempotency: foreachBatch is at-least-once — after a sink
  * failure or a restart from checkpoint, a micro-batch can re-execute
  * with the SAME batchId. [[publish]] skips batch ids at or below the
  * last applied one, so a replayed merge is a no-op instead of a
  * double count (histogram mass, KTable increments, band rows would
  * all silently corrupt otherwise). Pass [[VersionedParquetStore.NoBatchId]]
  * for non-streaming callers that manage their own dedup.
  */
private[graft] final class VersionedParquetStore(dir: String) {

  import VersionedParquetStore.MetaFile

  @volatile private var version: Int = 0
  @volatile private var lastBatch: Long = Long.MinValue

  private def versionDir(v: Int): String = s"$dir/v$v"

  // Restart adoption: a persisted artifact is only worth its disk if
  // a new JVM can resume it. A version dir COMMITS when its meta file
  // lands (written last in publish) — a crash mid-write leaves an
  // uncommitted dir adoption ignores and the next publish overwrites.
  // The meta file also carries the last applied batch id, so the
  // replay guard survives the restart (without it, a checkpoint-replayed
  // batch would double-merge into the adopted content — exactly the
  // corruption the guard exists to stop).
  if (Files.isDirectory(Paths.get(dir))) {
    import scala.jdk.CollectionConverters._
    val listing = Files.list(Paths.get(dir))
    val committed =
      try listing.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.matches("v\\d+") &&
          Files.exists(p.resolve(MetaFile)))
        .map(_.getFileName.toString.drop(1).toInt)
        .toSeq
      finally listing.close()
    if (committed.nonEmpty) {
      version = committed.max
      lastBatch = new String(
        Files.readAllBytes(Paths.get(versionDir(version), MetaFile)),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    }
  }

  /** Directory of the current published version; None before the first
    * publish. */
  def current: Option[String] =
    if (version == 0) None else Some(versionDir(version))

  /** True when `batchId` was already applied — [[publish]] would no-op.
    * Lets a caller skip computing the batch artifact entirely on an
    * at-least-once replay instead of paying the (often dominant)
    * artifact computation just to have the publish skipped. */
  def isReplay(batchId: Long): Boolean =
    batchId != VersionedParquetStore.NoBatchId && batchId <= lastBatch

  /** Write the next version via `write(nextDir)` and flip the pointer —
    * unless `batchId` was already applied (replay → no-op). Returns
    * whether the publish was applied. Synchronized: foreachBatch
    * serializes merges per query, but nothing stops two queries from
    * sharing a store. */
  def publish(batchId: Long)(write: String => Unit): Boolean = synchronized {
    if (batchId != VersionedParquetStore.NoBatchId && batchId <= lastBatch) false
    else {
      val next = version + 1
      write(versionDir(next))
      val nextBatch =
        if (batchId != VersionedParquetStore.NoBatchId) batchId else lastBatch
      // commit marker LAST (adoption ignores dirs without it); the
      // underscore prefix keeps parquet directory readers blind to it
      Files.createDirectories(Paths.get(versionDir(next)))
      Files.write(Paths.get(versionDir(next), MetaFile),
        nextBatch.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      version = next
      lastBatch = nextBatch
      retire(next - 2)
      true
    }
  }

  // retire a stale version directory (kept one behind for readers)
  private def retire(v: Int): Unit = {
    val stale = Paths.get(versionDir(v))
    if (v >= 1 && Files.exists(stale)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(stale)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}

private[graft] object VersionedParquetStore {
  /** Sentinel for callers outside a replayable stream. */
  val NoBatchId: Long = Long.MinValue

  /** Per-version commit marker + persisted replay guard (last applied
    * batch id). Underscore-prefixed: parquet readers skip it. */
  val MetaFile: String = "_last_batch"
}

/** A store whose merges are keyed by foreachBatch id: the replay guard
  * [[StreamingPipelines]]' ingest step checks before it computes,
  * checkpoints or publishes anything. */
private[graft] trait ReplayGuarded {
  /** True when `batchId` was already applied — a merge would no-op. */
  def isReplay(batchId: Long): Boolean
}

/** A [[ReplayGuarded]] store that appends one segment per merge and
  * folds them once more than `maxSegments` are live — the ingest step
  * compacts through this after every publish. */
private[graft] trait Segmented extends ReplayGuarded {
  def compactIfNeeded(spark: org.apache.spark.sql.SparkSession,
      maxSegments: Int): Unit
}
