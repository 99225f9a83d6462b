package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for the engine.
  *
  * One place for the settings every entry point (Bench, Verify, user
  * applications) must agree on: UTC session time (oracle parity), AQE
  * with partition coalescing and skew-join handling, shuffle
  * parallelism sized to the machine instead of the 200 default, and
  * scan partition sizing. On a real cluster the same builder applies —
  * only master/memory come from the deploy environment.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728") // 128 MiB
      // Generated-class cache sized for a real multi-query workload.
      // The 100-entry default thrashes once a session runs more than a
      // handful of distinct queries (this library registers ~60, each
      // with several codegen'd stages): every re-run then re-Janinos
      // evicted classes AND re-JITs them as brand-new classes — bench
      // telemetry measured 22-36 s of C2 time per WARM pass, the
      // long-unattributed warm-pass wander. Static conf: must be set
      // at builder time, ignored on getOrCreate of an existing session.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // CORRECTNESS: Spark 4.1's unionOutputPartitioning (default true)
      // lets UnionExec CLAIM its children's common hash partitioning
      // while the execution still CONCATENATES their partitions — any
      // clustering-required operator above an aligned union (bucketed
      // scan ∪ bucketed scan, bucketed table ∪ same-key same-count
      // Exchange, as in every store-merge shape) then elides its
      // shuffle and silently emits per-child duplicate groups.
      // Measured on 4.1.2: 7 keys over 2 same-bucketed tables →
      // 14 groups; the KTable-merge shape was wrong nondeterministically
      // (AQE coalescing sometimes breaks the false claim). Pinned off
      // here and regression-tested in UnionPartitioningSpec.
      .config("spark.sql.unionOutputPartitioning", "false")
      // The HDFS-backed state store keeps this many committed versions
      // per partition on heap (default 2). A micro-batch body that
      // executes its stateful plan once (CtrStore's merge) loads version
      // N and commits N+1, so only the newest version is read again and
      // a second copy is dead heap: on the reference topologies (4-vCPU
      // host, local[2]) the heap left after the run read 103 MB at 2
      // against 88 MB at 1. A body that executes its batch twice
      // reloads the older version from the checkpoint files: slower,
      // same answers (CtrStoreSpec).
      .config("spark.sql.streaming.maxBatchesToRetainInMemory", "1")
      // Every streaming trigger commits an offset-log file, a commit-log
      // file and one delta per state store and partition, each through
      // the checkpoint file manager. Spark's default one goes through
      // Hadoop's local file system, which without the native Hadoop
      // library forks `chmod` for every file and `.crc` it creates and
      // `readlink` for every rename: on a 4-vCPU host 20 commits took
      // 983 ms and ~400 processes, against 0.03-0.16 ms for a java.nio
      // write and rename. A warm CTR trigger on the ref_stream benchmark
      // (2 Spark cores) spent 70 ms in its offset-log commit and 340 ms
      // in state commits (summed over its two tasks); with
      // LocalCheckpointFileManager, 3 ms and 12 ms. It handles `file:`
      // paths only, with java.nio: `.crc` sidecars are still written and
      // verified on read, Spark's own checksum files (`1.delta.crc`,
      // spark.sql.streaming.checkpoint.fileChecksum.enabled) are written
      // through it as before, publishes stay atomic renames and a
      // no-overwrite publish is an atomic hard link. The layout is unchanged, so a checkpoint
      // written under either manager restarts under the other; other
      // schemes go to Spark's default manager.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      .config("spark.ui.enabled", "false")

  /** Local session sized from the SPARK_GRAFT_CPUS env (driver contract).
    *
    * Shuffle/spill scratch goes to tmpfs when available: measured on
    * this single-node harness, shuffle files written to the virtual
    * disk trigger periodic page-writeback storms that throttle every
    * writer for 60-90 s (bench totals 92 s → 38 s once scratch moved to
    * RAM). A cluster deployment ignores this branch — spark.local.dir
    * comes from the cluster manager (YARN/K8s local dirs on NVMe). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = builder(s"local[$cpus]", cpus.toInt)
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite && sys.props.get("spark.local.dir").isEmpty)
      b.config("spark.local.dir", "/dev/shm/graft-spark-local")
    val s = b.getOrCreate()
    // native expressions on the SQL surface (idempotent); cluster
    // deployments get the same via spark.sql.extensions=
    // graft.GraftSparkExtensions at builder time
    graft.functions.GraftFunctions.register(s)
    s
  }
}
