package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.Writers
import graft.streaming.{InMemoryPointer, StorePointer, VersionedParquetStore}

/** Segmented versioned bucketed parquet table — the shared maintenance
  * machinery behind every persisted ingest-side artifact ([[BandStore]]'s
  * band table, [[SimhashStore]]'s fingerprint table, [[IvfStore]]'s
  * inverted file, [[EmbStore]]'s bucket/vector tables).
  *
  * **Write path is append-only.** Each merge writes ONLY the batch's
  * rows as a new immutable SEGMENT in the store's bucket layout —
  * bytes written per merge scale with |batch|, never |store|
  * (StoreSoakSpec measures it). The previous copy-on-write form
  * rewrote `table ∪ batch` wholesale per merge: O(|corpus|)
  * shuffle+write per ingest trigger, which no cluster sustains at
  * 100 TB. The price of append-only is segment-count growth, paid
  * back by [[compact]]:
  *
  * **[[table]] is the union of live segments.** With ONE live segment
  * (a fresh ingest, or any store after [[compact]]) that is a bare
  * bucketed scan — it reports its hash partitioning to Catalyst, so
  * probe joins on the bucket column skip the store-side Exchange
  * entirely (the plan the *StoreSpec pins assert). A multi-segment
  * union loses the partitioning report (UnionExec is
  * UnknownPartitioning), so probes between compactions pay a
  * store-side shuffle: compaction cadence bounds BOTH small-file
  * growth and that probe cost. Ingest loops call
  * [[compactIfNeeded]] with their segment budget.
  *
  * **[[compact]] folds all live segments into one** — one bucketed
  * rewrite of the corpus, amortized over the merges since the last
  * compaction (the classic LSM shape: cheap appends, periodic fold).
  * Publish is atomic either way: the live-segment manifest lives
  * behind a [[graft.streaming.StorePointer]] (volatile field by
  * default; file-backed for restart adoption — on a new JVM the store
  * re-registers its surviving segment directories as bucketed
  * external tables, same layout, same probe plans). Segments retired
  * by a compaction are kept one generation for in-flight readers of
  * the prior manifest, then dropped by the next compaction — the
  * reader window the copy-on-write form had.
  *
  * At cluster scale the same shape is a Delta/Iceberg table (append
  * commits + OPTIMIZE); segments + a pointer keep it dependency-free
  * here, and the pointer interface is exactly where the catalog impl
  * plugs in. Nothing ever collects to the driver.
  */
private[graft] abstract class SegmentedBucketedStore(
    name: String, bucketCol: String, buckets: Int,
    pointer: StorePointer = new InMemoryPointer)
    extends graft.streaming.Segmented {

  import SegmentedBucketedStore._

  private def segTable(k: Int): String = s"${name}_s$k"

  /** The store's (empty) schema, used before the first merge. */
  protected def emptyTable(spark: SparkSession): DataFrame

  /** Validate an incoming batch against the store schema (fail loudly
    * on a drift that would silently union-coerce) and project it to
    * exactly the stored columns. */
  protected def normalize(batch: DataFrame): DataFrame

  private def state: State =
    pointer.read().map(State.decode).getOrElse(State.Empty)

  /** One pointer read, kept with its decoded state — the mutation paths
    * CLAIM their segment id from this observed payload and publish
    * conditionally on it when the pointer supports CAS, so a foreign
    * publish (another driver racing this store) is retried from the
    * fresh state instead of being silently clobbered. */
  private def snapshot(): (Option[String], State) = {
    val payload = pointer.read()
    (payload, payload.map(State.decode).getOrElse(State.Empty))
  }

  /** [[table]] over an EXPLICIT segment list — the rewrite path folds
    * exactly the segments it claimed (reading `state` again mid-fold
    * could pick up a foreign merge whose segment the final conditional
    * publish would then double-count after its own retry). */
  private def tableOf(spark: SparkSession, segs: List[Int]): DataFrame = {
    segs.foreach(ensureRegistered(spark, _))
    segs match {
      case Nil => emptyTable(spark)
      case one :: Nil => spark.table(segTable(one))
      case many =>
        spark.read.schema(emptyTable(spark).schema)
          .parquet(many.map(k => segPath(spark, k).toString): _*)
    }
  }

  /** Current store table. Empty before the first merge. Single live
    * segment → bare bucketed scan (partitioning-reporting — the probe
    * plan); several → ONE multi-path parquet scan over the segment
    * directories (compaction restores the bare bucketed scan).
    *
    * The multi-segment read is deliberately NOT a union of the bucketed
    * scans: Spark 4.1.2 propagates the children's identical hash
    * partitioning through UnionExec without zipping their partitions,
    * so a downstream bucket-key aggregation or join believes the union
    * is clustered and silently emits per-segment duplicate groups
    * (measured: 7 keys over 2 segments → 14 groups; StoreSoakSpec
    * pins correctness here). The path read makes no bucketing claim —
    * downstream operators insert their Exchange and stay correct;
    * that Exchange is exactly the probe cost [[compact]]'s cadence
    * bounds. */
  def table(spark: SparkSession): DataFrame = tableOf(spark, state.segs)

  /** True when `batchId` was already merged — [[merge]] would no-op.
    * Lets a foreachBatch body skip the batch-artifact computation (and
    * any eager checkpoint of it) entirely on an at-least-once replay. */
  def isReplay(batchId: Long): Boolean =
    batchId != VersionedParquetStore.NoBatchId && batchId <= state.lastBatch

  /** Publish an accepted batch as a new segment: bytes written are the
    * BATCH's, never the store's.
    *
    * Pass the foreachBatch `batchId` when merging from a stream: replay
    * of an at-least-once micro-batch is then a no-op — duplicated rows
    * would corrupt downstream counts (e.g. doubled band-bucket counts
    * spuriously tripping the dedup cap). The sentinel is the SHARED
    * [[graft.streaming.VersionedParquetStore.NoBatchId]] — one
    * definition for every store's replay guard.
    *
    * Ids must be unique ACROSS the stream, not just within a batch: a
    * doc re-sent under a NEW batchId is not a replay — it would append
    * duplicate rows for its id (the probe loops anti-join the batch's
    * own ids out of the seen view, so it hides from its prior rows and
    * survives). Upsert-on-id is the catalog seam's job (Delta MERGE);
    * the ingest loops document the same contract. */
  def merge(batch: DataFrame,
      batchId: Long = VersionedParquetStore.NoBatchId): Unit = synchronized {
    val spark = batch.sparkSession
    // Phase 1 — CLAIM the segment id: bump nextSeg in the manifest
    // BEFORE any file is written. Ids are handed out by the pointer
    // itself, so no two writers (this JVM's lock only serializes THIS
    // instance — a second driver races freely) can ever hold the same
    // segment path: the pre-round-11 form picked k = nextSeg post-hoc,
    // and a CAS loser's pre-write cleanup could delete the WINNER's
    // already-published segment k files (ADVICE r10). A claim burned by
    // a crash (claimed, never appended) is CORRECTNESS-harmless —
    // nextSeg is monotone, the id is never reissued — but any files
    // the crash left under the claimed path do leak until an operator
    // reclaims them (they cannot be auto-swept: a claimed-unpublished
    // id is indistinguishable from another driver's IN-FLIGHT write;
    // an age-gated admin sweep at the catalog seam is the remedy).
    var k = -1
    var claimed: Option[State] = None
    while (claimed.isEmpty) {
      val (observed, st) = snapshot()
      if (batchId != VersionedParquetStore.NoBatchId &&
          batchId <= st.lastBatch)
        return
      // first use of this store name in this warehouse: sweep segment
      // directories a dead JVM's in-memory pointer never retired (they
      // are invisible to reads — pointer-driven — but leak disk forever,
      // and saveAsTable refuses an existing unregistered location).
      // RACE DISCIPLINE (two hazards, both real in the two-writer
      // soak): (1) sweeping BEFORE the CAS can delete another driver's
      // freshly claimed in-flight segment at cold start; (2) stale
      // dirs carry ids 1..N that a FRESH manifest hands out
      // immediately, so even a post-CAS sweep can delete a listed path
      // a concurrent claimant has since re-claimed and is writing
      // under. So: list candidates now, CLAIM PAST the largest stale
      // id (listed paths become unreachable by every claimant — ids
      // are handed out by the pointer, monotonically, starting above
      // them), and sweep only AFTER our claim CAS against this exact
      // empty payload succeeds (success certifies no concurrent claim
      // existed between listing and CAS; claim-first means writers
      // publish before touching files).
      val orphans = if (observed.isEmpty) listOrphans(spark) else Nil
      k = math.max(st.nextSeg, maxDirId(orphans) + 1)
      val claim = st.copy(nextSeg = k + 1)
      if (casOrWrite(observed, claim)) {
        sweepOrphans(spark, orphans)
        claimed = Some(claim)
      }
    }
    dropSegment(spark, k) // a claim this instance crashed mid-write on
    Writers.bucketedTable(normalize(batch), segTable(k), bucketCol, buckets,
      path = Some(segPath(spark, k).toString))
    // Phase 2 — APPEND the written segment. Our claimed id conflicts
    // with nothing, so a foreign publish in between just means retrying
    // the append over the fresh manifest: no merge is ever lost and no
    // writer ever touches another's files.
    var appended = false
    while (!appended) {
      val (observed, st) = snapshot()
      if (batchId != VersionedParquetStore.NoBatchId &&
          batchId <= st.lastBatch) {
        // a foreign driver sharing the checkpoint applied this batch
        // while we wrote — ours is the replay; retract it
        dropSegment(spark, k)
        return
      }
      appended = casOrWrite(observed, st.copy(segs = st.segs :+ k,
        nextSeg = math.max(st.nextSeg, k + 1),
        lastBatch =
          if (batchId != VersionedParquetStore.NoBatchId)
            math.max(st.lastBatch, batchId)
          else st.lastBatch))
    }
  }

  /** Fold all live segments into one — one bucketed rewrite of the
    * corpus, amortized over the merges since the last compaction.
    * Restores the bare partitioning-reporting scan for probes and
    * bounds segment count. Readers holding the prior manifest are
    * unaffected: their segments move to the grace window and are
    * dropped by the NEXT compaction, not this one. No-op at ≤ 1 live
    * segment. */
  def compact(spark: SparkSession): Unit = synchronized {
    if (state.segs.size > 1)
      rewriteTo(spark, identity, skipIfSingle = true)
  }

  /** The ingest loops' periodic-compaction hook: compact once the live
    * segment count exceeds `maxSegments`. Amortization knob — N merges
    * between compactions make each merge O(batch) and each compaction
    * O(corpus)/N-amortized. */
  def compactIfNeeded(spark: SparkSession, maxSegments: Int): Unit =
    if (state.segs.size > maxSegments) compact(spark)

  /** Atomically replace the ENTIRE store content with `rows(current)`
    * (written as one fresh segment) — the rebuild primitive
    * ([[IvfStore.rebuild]] re-assigns the inverted file under new
    * centroids with it). Readers of the prior manifest keep their
    * segments (grace window), exactly like [[compact]].
    *
    * Takes a FUNCTION of the current table, not a DataFrame: the
    * store snapshot must be taken INSIDE the lock. An argument built
    * from `table(spark)` at the call site would fix the segment list
    * before the lock is held — a concurrent streaming merge landing in
    * that window would be absent from the rebuilt segment while its
    * batchId stays recorded as applied: silent, unhealable loss (the
    * replay guard then no-ops the checkpoint replay that would heal
    * it). */
  protected def replaceAllWith(spark: SparkSession,
      rows: DataFrame => DataFrame): Unit =
    synchronized { rewriteTo(spark, rows, skipIfSingle = false) }

  // One fresh segment from `rows(currentTable)`, previous grace
  // dropped, live set becomes the new grace — shared by compact and
  // replaceAllWith. Same claim-first discipline as merge: the fold
  // segment id is claimed via the pointer before any file is written,
  // then the fold reads EXACTLY the claimed manifest's segments
  // (different tables than the one being written, so the
  // scan-while-write is safe), and the final publish is CONDITIONAL on
  // the claim payload — a foreign merge landing mid-fold would be
  // absent from the fold, so its publish must force a retry over the
  // fresh manifest (the fold segment is retracted first; it was never
  // referenced). Old grace is dropped only AFTER a successful publish:
  // dropping it up front (the pre-round-11 order) deleted files while
  // the publish could still fail.
  private def rewriteTo(spark: SparkSession, rows: DataFrame => DataFrame,
      skipIfSingle: Boolean): Unit = {
    var done = false
    while (!done) {
      var k = -1
      var claimed: Option[State] = None
      while (claimed.isEmpty) {
        val (observed, st) = snapshot()
        if (skipIfSingle && st.segs.size <= 1) return
        k = st.nextSeg
        val claim = st.copy(nextSeg = k + 1)
        if (casOrWrite(observed, claim)) claimed = Some(claim)
      }
      val st = claimed.get
      dropSegment(spark, k)
      Writers.bucketedTable(normalize(rows(tableOf(spark, st.segs))),
        segTable(k), bucketCol, buckets,
        path = Some(segPath(spark, k).toString))
      done = casOrWrite(Some(st.encode),
        State(List(k), k + 1, st.lastBatch, grace = st.segs))
      if (done) st.grace.foreach(dropSegment(spark, _))
      else dropSegment(spark, k) // fold is stale — retract, refold fresh
    }
  }

  /** Publish a new manifest from an observed payload. Through a
    * [[graft.streaming.CasStorePointer]] the publish is CONDITIONAL on
    * `observed`: false = a foreign publish intervened (a second driver
    * sharing the store — the store's lock only serializes THIS JVM) and
    * the caller retries from the fresh payload, so no writer's merge is
    * ever lost and no manifest is silently clobbered. A plain pointer
    * is single-driver by contract ([[graft.streaming.StorePointer]]'s
    * scaladoc) — its publish is unconditional and always succeeds. */
  private def casOrWrite(observed: Option[String], st: State): Boolean =
    pointer match {
      case cas: graft.streaming.CasStorePointer =>
        cas.compareAndSwap(observed, st.encode)
      case p => p.write(st.encode); true
    }

  /** Live segment ids, ingest order — soak/compaction specs read it. */
  private[graft] def liveSegments: List[Int] = state.segs

  /** On-disk bytes of one segment — the soak spec's measure that a
    * merge writes O(batch), not O(store). */
  private[graft] def segmentBytes(spark: SparkSession, k: Int): Long = {
    val p = segPath(spark, k)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  // a file pointer can outlive the session's in-memory catalog: adopt a
  // surviving segment by re-registering its warehouse directory as a
  // bucketed EXTERNAL table — same layout, same partitioning report,
  // same probe plans (bucket ids live in the file names Spark wrote)
  // synchronized + IF NOT EXISTS: table() is reader-facing and two
  // concurrent probes adopting the same surviving segment after a
  // restart would otherwise race check-then-create (the loser's query
  // fails spuriously on TableAlreadyExists); the lock serializes this
  // JVM, IF NOT EXISTS absorbs anything else sharing the catalog
  private def ensureRegistered(spark: SparkSession, k: Int): Unit =
    if (!spark.catalog.tableExists(segTable(k))) synchronized {
      if (!spark.catalog.tableExists(segTable(k))) {
        val p = segPath(spark, k)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.exists(p),
          s"store '$name' manifest references segment ${segTable(k)} but " +
            s"its directory $p is gone — pointer and warehouse diverged")
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS ${segTable(k)}
             |(${emptyTable(spark).schema.toDDL})
             |USING parquet
             |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
             |INTO $buckets BUCKETS
             |LOCATION '$p'""".stripMargin)
      }
    }

  private def segPath(spark: SparkSession, k: Int): Path = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    new Path(warehouse, segTable(k).toLowerCase(java.util.Locale.ROOT))
  }

  private def dropSegment(spark: SparkSession, k: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${segTable(k)}")
    val p = segPath(spark, k)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  // drop every warehouse directory named like one of this store's
  // segments (current `_s<k>` or the pre-segment `_v<k>` form) — called
  // only while the pointer is empty, so nothing live can match
  /** Orphan-candidate directories under the warehouse for this store
    * name — the LISTING half of the cold-start sweep; deletion is
    * deferred until after the first-claim CAS (see [[merge]]'s race
    * discipline). */
  private def listOrphans(spark: SparkSession): Seq[Path] = {
    val warehouse = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(warehouse)) return Nil
    val prefix = name.toLowerCase(java.util.Locale.ROOT)
    val orphan = s"^${java.util.regex.Pattern.quote(prefix)}_[sv]\\d+$$".r
    fs.listStatus(warehouse).toSeq.collect {
      case st if st.isDirectory &&
          orphan.findFirstIn(st.getPath.getName).isDefined => st.getPath
    }
  }

  /** Largest numeric suffix among orphan-candidate dirs (0 when none)
    * — the floor the first claim must clear so swept paths can never
    * be re-claimed concurrently. */
  private def maxDirId(paths: Seq[Path]): Int =
    paths.map(_.getName.reverse.takeWhile(_.isDigit).reverse)
      .filter(_.nonEmpty).map(_.toInt)
      .foldLeft(0)(math.max)

  private def sweepOrphans(spark: SparkSession, paths: Seq[Path]): Unit = {
    if (paths.isEmpty) return
    val fs = paths.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    paths.foreach { p =>
      spark.sql(s"DROP TABLE IF EXISTS ${p.getName}")
      fs.delete(p, true)
    }
  }
}

private[graft] object SegmentedBucketedStore {

  /** Manifest snapshot behind the pointer: live segment ids (ingest
    * order), next unused segment id, last applied streaming batch id,
    * and the previous compaction's retired segments (the one-generation
    * reader grace window). Encoded as a single line so any
    * [[graft.streaming.StorePointer]] can carry it opaquely. */
  final case class State(segs: List[Int], nextSeg: Int, lastBatch: Long,
      grace: List[Int]) {
    def encode: String =
      s"$nextSeg;$lastBatch;${segs.mkString(",")};${grace.mkString(",")}"
  }

  object State {
    val Empty: State = State(Nil, 1, Long.MinValue, Nil)

    def decode(s: String): State = {
      val parts = s.split(";", -1)
      require(parts.length == 4, s"corrupt store pointer payload: '$s'")
      def ints(x: String): List[Int] =
        if (x.isEmpty) Nil else x.split(",").map(_.toInt).toList
      State(ints(parts(2)), parts(0).toInt, parts(1).toLong, ints(parts(3)))
    }
  }
}
